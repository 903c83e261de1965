package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.clean.Clean
import graft.sync.{AsofJoin, EventPivot, Synchronize, TimeGrid}
import graft.analytics.Stats

/** Reference-surface operators (SURVEY.md §2) expressed over the
  * driver's parquet tables, each with a DuckDB oracle.
  *
  * The time-series operators run against `events` (the only timestamped
  * stream table): the camera/motion roles of the reference are played by
  * the even/odd `user_id` halves of `events`, the grid step scales from
  * the reference's 33 ms to 1 minute for the 30-day span (same operator,
  * parameterized — SURVEY §2.4), and the one-hot tolerance scales from
  * <100 ms to <10 s accordingly.
  */
object RefQueries {

  private val MeasureCols = Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax")
  private val EventTypes = Seq("click", "error", "purchase", "signup", "view")
  private val MinuteUs = 60000000L
  private val TolUs = 10000000L // strict < 10 s, scaled from app.py:185's < 100 ms

  private def events(spark: SparkSession, dir: String): DataFrame =
    graft.sources.Tables.events(spark, dir)

  /** The composed Y1-Y9 pipeline for one resample method, executed
    * under STATIC planning (the kcore/q_hits discipline, r16): the
    * flagship's plan is fixed — one fused O(ticks) sensor shuffle, one
    * pivot aggregate, one tick-axis join — so AQE's per-exchange stage
    * jobs are pure scheduling overhead (measured 16 driver jobs; this
    * path runs 5-7). The synchronized frame is materialized via
    * localCheckpoint while AQE is off, so the caller's post-processing
    * (sort, rounding) runs on a depth-0 leaf and the conf flip cannot
    * leak into the caller's execution. */
  private def flagshipFrame(s: SparkSession, d: String,
                            method: String): DataFrame = {
    val aqeWas = s.conf.get("spark.sql.adaptive.enabled", "true")
    s.conf.set("spark.sql.adaptive.enabled", "false")
    try flagshipLazy(s, d, method).localCheckpoint()
    finally s.conf.set("spark.sql.adaptive.enabled", aqeWas)
  }

  /** The flagship's LAZY synchronized frame (no conf flip, no
    * materialization) — the plan PlanLawsSpec's shuffle-budget law
    * audits; flagshipFrame is this plus the static-planning execution
    * wrapper. */
  private[graft] def flagshipLazy(s: SparkSession, d: String,
                                  method: String): DataFrame = {
    val e = events(s, d)
    // raw halves: the per-ts max(value) dedupe (oracle CTEs ca/mo)
    // fuses into the resample aggregate via tieCol
    def half(parity: Int) = e.filter(col("user_id") % 2 === parity)
      .select(col("ts").as("timestamp"), col("value"))
    val log = e.select(col("ts").as("timestamp"), col("event_type"))
    val (out, _) = Synchronize.synchronize(s, half(0), half(1), Some(log),
      method = method, stepUs = MinuteUs, tolUs = TolUs,
      eventTypes = Some(EventTypes), tieCol = Some("value"))
    out
  }

  /** The (min, max) event timestamp per sf dir — static metadata of a
    * static table, memoized so the six grid-based queries don't each
    * re-run the same scalar aggregate job. */
  private val windowCache = scala.collection.concurrent.TrieMap.empty[String, (Long, Long)]
  private def eventsWindowUs(spark: SparkSession, dir: String): (Long, Long) =
    windowCache.getOrElseUpdate(dir, {
      val r = events(spark, dir)
        .agg(min(unix_micros(col("ts"))), max(unix_micros(col("ts")))).head()
      (r.getLong(0), r.getLong(1))
    })

  /** Y5 on the 1-minute grid over the events window: events resampled
    * by `AsofJoin.uniformGrid`, with the per-ts max(value) dedupe (the
    * oracle's CTE `e`) fused into the tick aggregate via tieCol. The
    * pad/backfill/nearest queries carry `ts` as a value column and
    * rename it to `src_ts`. */
  private def y5Resample(s: SparkSession, d: String, method: String,
                         valueCols: Seq[String]): DataFrame = {
    val (lo, hi) = eventsWindowUs(s, d)
    AsofJoin.uniformGrid(s, Seq(AsofJoin.GridSeries(events(s, d), "ts", valueCols, "")),
      lo, MinuteUs, TimeGrid.tickCount(lo, hi, MinuteUs), method,
      tieCol = Some("value"))
  }

  private def minuteGrid(spark: SparkSession, dir: String): (DataFrame, Long, Long) = {
    val (lo, hi) = eventsWindowUs(spark, dir)
    (TimeGrid.grid(spark, lo, hi, MinuteUs, tickCol = "tick"), lo,
      TimeGrid.tickCount(lo, hi, MinuteUs))
  }

  private val oracleGridCte =
    """w AS (SELECT epoch_us(min(ts)) AS lo, epoch_us(max(ts)) AS hi FROM events),
      |w2 AS (SELECT lo, hi, (hi - lo) // 60000000 + 1 AS n FROM w),
      |g AS (SELECT lo + unnest(range(0, n)) * 60000000 AS tick_us FROM w2),
      |e AS (SELECT ts, max(value) AS value FROM events GROUP BY ts)""".stripMargin

  /** The per-method "resolved channel value" CTE: how cn/mn derive a
    * channel's value at each tick from the pad probe (pts/pv: last
    * sample at-or-before) and the backfill probe (bts/bv: first
    * sample at-or-after). Mirrors AsofJoin.uniformGrid's four
    * methods; DuckDB prunes whichever probe CTE a method leaves
    * unreferenced. */
  private def channelCte(out: String, probe: String, outCol: String,
                         method: String): String = {
    val (p, b) = (s"${probe}p", s"${probe}b")
    method match {
      case "pad" =>
        s"$out AS (SELECT tick_us, pv AS $outCol FROM $p)"
      case "backfill" =>
        s"$out AS (SELECT tick_us, bv AS $outCol FROM $b)"
      case "interp" =>
        s"""$out AS (SELECT $p.tick_us,
           |        round(CASE WHEN pts IS NULL OR bts IS NULL THEN NULL
           |              WHEN bts = pts THEN pv
           |              ELSE pv + (bv - pv) * (($p.tick_us - epoch_us(pts))::DOUBLE
           |                / (epoch_us(bts) - epoch_us(pts))::DOUBLE) END, 6) AS $outCol
           |       FROM $p JOIN $b USING (tick_us))""".stripMargin
      case _ =>
        s"""$out AS (SELECT $p.tick_us,
           |        CASE WHEN pts IS NULL OR (bts IS NOT NULL
           |              AND epoch_us(bts) - $p.tick_us <= $p.tick_us - epoch_us(pts))
           |             THEN bv ELSE pv END AS $outCol
           |       FROM $p JOIN $b USING (tick_us))""".stripMargin
    }
  }

  /** The synchronized-frame CTE chain (grid + as-of halves under the
    * given resample method + event one-hot pivot) shared by the
    * flagship oracle, its pad/backfill/interp method variants, and
    * the sensor-fusion query built on the same frame. Ends with CTEs
    * g/cn/mn/p in scope. */
  private def syncFrameCtes(method: String = "nearest"): String =
    s"""ca AS (SELECT ts, max(value) AS value FROM events WHERE user_id % 2 = 0 GROUP BY ts),
             |mo AS (SELECT ts, max(value) AS value FROM events WHERE user_id % 2 = 1 GROUP BY ts),
             |w2 AS (SELECT greatest((SELECT epoch_us(min(ts)) FROM ca), (SELECT epoch_us(min(ts)) FROM mo)) AS lo,
             |              least((SELECT epoch_us(max(ts)) FROM ca), (SELECT epoch_us(max(ts)) FROM mo)) AS hi),
             |w3 AS (SELECT lo, hi, (hi - lo) // 60000000 + 1 AS n FROM w2),
             |g AS (SELECT lo + unnest(range(0, n)) * 60000000 AS tick_us FROM w3),
             |cp AS (SELECT g.tick_us, e.ts AS pts, e.value AS pv FROM g ASOF LEFT JOIN ca e ON make_timestamp(g.tick_us) >= e.ts),
             |cb AS (SELECT g.tick_us, e.ts AS bts, e.value AS bv FROM g ASOF LEFT JOIN ca e ON make_timestamp(g.tick_us) <= e.ts),
             |${channelCte("cn", "c", "camera_value", method)},
             |mp AS (SELECT g.tick_us, e.ts AS pts, e.value AS pv FROM g ASOF LEFT JOIN mo e ON make_timestamp(g.tick_us) >= e.ts),
             |mb AS (SELECT g.tick_us, e.ts AS bts, e.value AS bv FROM g ASOF LEFT JOIN mo e ON make_timestamp(g.tick_us) <= e.ts),
             |${channelCte("mn", "m", "motion_value", method)},
             |c2 AS (SELECT e.ts, e.event_type,
             |        w3.lo + LEAST(w3.n - 1, GREATEST(0,
             |          CAST(ceil((epoch_us(e.ts) - w3.lo - 30000000) / 60000000.0) AS BIGINT)
             |        )) * 60000000 AS tick_us
             |       FROM events e, w3),
             |h AS (SELECT DISTINCT tick_us, event_type FROM c2
             |      WHERE abs(epoch_us(ts) - tick_us) < 10000000),
             |p AS (SELECT tick_us,
             |        max(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS event_click,
             |        max(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS event_error,
             |        max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS event_purchase,
             |        max(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END) AS event_signup,
             |        max(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS event_view
             |      FROM h GROUP BY tick_us)"""
      .stripMargin

  val defs: Seq[QueryDef] = Seq(

    // F1 — drop rows with any missing (NULL-or-NaN) value, app.py:108.
    QueryDef("f1_dropna",
      (s, d) => {
        val li = graft.sources.Tables.load(s, d, "lineitem")
        // (l_orderkey, l_linenumber) is NOT unique in the synthetic
        // data; (…, l_partkey, l_suppkey) is — deterministic order.
        Clean.dropMissing(li).orderBy(col("l_orderkey"), col("l_linenumber"),
          col("l_partkey"), col("l_suppkey"))
      },
      Some("""SELECT * FROM lineitem
             |WHERE l_orderkey IS NOT NULL AND l_partkey IS NOT NULL
             |  AND l_suppkey IS NOT NULL AND l_linenumber IS NOT NULL
             |  AND l_quantity IS NOT NULL AND NOT isnan(l_quantity)
             |  AND l_extendedprice IS NOT NULL AND NOT isnan(l_extendedprice)
             |  AND l_discount IS NOT NULL AND NOT isnan(l_discount)
             |  AND l_tax IS NOT NULL AND NOT isnan(l_tax)
             |  AND l_returnflag IS NOT NULL AND l_linestatus IS NOT NULL
             |  AND l_shipdate IS NOT NULL
             |ORDER BY l_orderkey, l_linenumber, l_partkey, l_suppkey""".stripMargin)),

    // F3 — strict sentinel/range filter over the measure columns, app.py:116.
    QueryDef("f3_range_filter",
      (s, d) => {
        val li = graft.sources.Tables.load(s, d, "lineitem")
        Clean.rangeFilter(li, MeasureCols)
          .select("l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice",
            "l_discount", "l_tax")
          // order by every projected column: any remaining tie is an
          // identical row, so the output order is value-deterministic.
          .orderBy(col("l_orderkey"), col("l_linenumber"), col("l_quantity"),
            col("l_extendedprice"), col("l_discount"), col("l_tax"))
      },
      Some("""SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice, l_discount, l_tax
             |FROM lineitem
             |WHERE NOT (l_quantity < -900 OR l_quantity > 10000)
             |  AND NOT (l_extendedprice < -900 OR l_extendedprice > 10000)
             |  AND NOT (l_discount < -900 OR l_discount > 10000)
             |  AND NOT (l_tax < -900 OR l_tax > 10000)
             |ORDER BY l_orderkey, l_linenumber, l_quantity, l_extendedprice, l_discount, l_tax""".stripMargin)),

    // F3 report — the reference's *sequential* per-column removal counts
    // (app.py:115-120) as one aggregate row.
    QueryDef("f3_range_report",
      (s, d) => {
        val li = graft.sources.Tables.load(s, d, "lineitem")
        val aggs = MeasureCols.zipWithIndex.map { case (c, i) =>
          val survivedPrior: Column =
            if (i == 0) lit(true)
            else MeasureCols.take(i).map(p => !Clean.outOfRange(p)).reduce(_ && _)
          sum(when(survivedPrior && Clean.outOfRange(c), 1L).otherwise(0L))
            .as(s"removed_$c")
        }
        li.agg(aggs.head, aggs.tail: _*)
      },
      // ::BIGINT: DuckDB sum(int) is HUGEINT, which pandas fetches as
      // float64 — value-equal results would hash-mismatch Spark's int64.
      Some("""SELECT
             | sum(CASE WHEN (l_quantity < -900 OR l_quantity > 10000) THEN 1 ELSE 0 END)::BIGINT AS removed_l_quantity,
             | sum(CASE WHEN NOT (l_quantity < -900 OR l_quantity > 10000)
             |           AND (l_extendedprice < -900 OR l_extendedprice > 10000) THEN 1 ELSE 0 END)::BIGINT AS removed_l_extendedprice,
             | sum(CASE WHEN NOT (l_quantity < -900 OR l_quantity > 10000)
             |           AND NOT (l_extendedprice < -900 OR l_extendedprice > 10000)
             |           AND (l_discount < -900 OR l_discount > 10000) THEN 1 ELSE 0 END)::BIGINT AS removed_l_discount,
             | sum(CASE WHEN NOT (l_quantity < -900 OR l_quantity > 10000)
             |           AND NOT (l_extendedprice < -900 OR l_extendedprice > 10000)
             |           AND NOT (l_discount < -900 OR l_discount > 10000)
             |           AND (l_tax < -900 OR l_tax > 10000) THEN 1 ELSE 0 END)::BIGINT AS removed_l_tax
             |FROM lineitem""".stripMargin)),

    // F4 — quantile spike smoothing on o_totalprice (app.py:122-131):
    // out-of-(q01,q99) values become the whole-column median.
    QueryDef("f4_spike_smooth",
      (s, d) => {
        // quantiles ride a broadcast 1-row cross join instead of a
        // driver-side head(): one Spark job, no collect round-trip
        val o = graft.sources.Tables.load(s, d, "orders")
        val q = o.agg(graft.functions.ExactPercentile
          .percentiles(col("o_totalprice"), Seq(0.01, 0.5, 0.99)).as("__q"))
        val qlo = col("__q").getItem(0)
        val med = col("__q").getItem(1)
        val qhi = col("__q").getItem(2)
        val outlier = col("o_totalprice") < qlo || col("o_totalprice") > qhi
        o.crossJoin(broadcast(q))
          .select(
            col("o_orderkey"),
            when(outlier, 1).otherwise(0).as("is_outlier"),
            round(when(outlier, med).otherwise(col("o_totalprice")), 4).as("smoothed"))
          .orderBy(col("o_orderkey"))
      },
      Some("""WITH q AS (SELECT quantile_cont(o_totalprice, 0.01) AS qlo,
             |                  quantile_cont(o_totalprice, 0.5)  AS med,
             |                  quantile_cont(o_totalprice, 0.99) AS qhi FROM orders)
             |SELECT o_orderkey,
             |  CASE WHEN o_totalprice < q.qlo OR o_totalprice > q.qhi THEN 1 ELSE 0 END AS is_outlier,
             |  round(CASE WHEN o_totalprice < q.qlo OR o_totalprice > q.qhi THEN q.med
             |             ELSE o_totalprice END, 4) AS smoothed
             |FROM orders, q ORDER BY o_orderkey""".stripMargin)),

    // F5 — deterministic sort by timestamp (app.py:133-135).
    QueryDef("f5_sort",
      (s, d) => events(s, d)
        .select("event_id", "ts", "user_id", "event_type", "value")
        .orderBy(col("ts"), col("event_id")),
      Some("""SELECT event_id, ts, user_id, event_type, value
             |FROM events ORDER BY ts, event_id""".stripMargin)),

    // Y3 — overlap window of two sensors (app.py:155-156); the two
    // sensors are the even/odd user_id halves of events.
    QueryDef("y3_overlap_window",
      (s, d) => {
        val e = events(s, d)
        val a = e.filter(col("user_id") % 2 === 0)
          .agg(min(col("ts")).as("a_lo"), max(col("ts")).as("a_hi"))
        val b = e.filter(col("user_id") % 2 === 1)
          .agg(min(col("ts")).as("b_lo"), max(col("ts")).as("b_hi"))
        a.crossJoin(b).select(
          greatest(col("a_lo"), col("b_lo")).as("overlap_start"),
          least(col("a_hi"), col("b_hi")).as("overlap_end"))
      },
      Some("""SELECT greatest(a.a_lo, b.b_lo) AS overlap_start,
             |       least(a.a_hi, b.b_hi) AS overlap_end
             |FROM (SELECT min(ts) AS a_lo, max(ts) AS a_hi FROM events WHERE user_id % 2 = 0) a,
             |     (SELECT min(ts) AS b_lo, max(ts) AS b_hi FROM events WHERE user_id % 2 = 1) b""".stripMargin)),

    // Y4 — uniform 33 ms grid (app.py:160) over the first 60 s of events.
    QueryDef("y4_time_grid",
      (s, d) => {
        val (lo, _) = eventsWindowUs(s, d)
        TimeGrid.grid(s, lo, lo + 60000000L, 33000L, tickCol = "tick").orderBy(col("tick"))
      },
      Some("""WITH w AS (SELECT epoch_us(min(ts)) AS lo FROM events)
             |SELECT make_timestamp(w.lo + r.i * 33000) AS tick
             |FROM w, range(0, 1819) r(i) ORDER BY tick""".stripMargin)),

    // Y5 — as-of pad: last event at ts <= tick (app.py:164, method='pad').
    QueryDef("y5_asof_pad",
      (s, d) => y5Resample(s, d, "pad", Seq("ts", "value"))
        .select(col("tick"), col("ts").as("src_ts"), col("value"))
        .orderBy(col("tick")),
      Some(s"""WITH $oracleGridCte
              |SELECT make_timestamp(g.tick_us) AS tick, e.ts AS src_ts, e.value AS value
              |FROM g ASOF LEFT JOIN e ON make_timestamp(g.tick_us) >= e.ts
              |ORDER BY tick""".stripMargin)),

    // Y5 — as-of backfill: first event at ts >= tick.
    QueryDef("y5_asof_backfill",
      (s, d) => y5Resample(s, d, "backfill", Seq("ts", "value"))
        .select(col("tick"), col("ts").as("src_ts"), col("value"))
        .orderBy(col("tick")),
      Some(s"""WITH $oracleGridCte
              |SELECT make_timestamp(g.tick_us) AS tick, e.ts AS src_ts, e.value AS value
              |FROM g ASOF LEFT JOIN e ON make_timestamp(g.tick_us) <= e.ts
              |ORDER BY tick""".stripMargin)),

    // Y5 — as-of nearest: min |ts - tick|, tie -> LATER ts [verified].
    QueryDef("y5_asof_nearest",
      (s, d) => y5Resample(s, d, "nearest", Seq("ts", "value"))
        .select(col("tick"), col("ts").as("src_ts"), col("value"))
        .orderBy(col("tick")),
      Some(s"""WITH $oracleGridCte,
              |p AS (SELECT make_timestamp(g.tick_us) AS tick, e.ts AS pts, e.value AS pv
              |      FROM g ASOF LEFT JOIN e ON make_timestamp(g.tick_us) >= e.ts),
              |b AS (SELECT make_timestamp(g.tick_us) AS tick, e.ts AS bts, e.value AS bv
              |      FROM g ASOF LEFT JOIN e ON make_timestamp(g.tick_us) <= e.ts)
              |SELECT p.tick,
              |  CASE WHEN pts IS NULL OR (bts IS NOT NULL
              |        AND epoch_us(bts) - epoch_us(p.tick) <= epoch_us(p.tick) - epoch_us(pts))
              |       THEN bts ELSE pts END AS src_ts,
              |  CASE WHEN pts IS NULL OR (bts IS NOT NULL
              |        AND epoch_us(bts) - epoch_us(p.tick) <= epoch_us(p.tick) - epoch_us(pts))
              |       THEN bv ELSE pv END AS value
              |FROM p JOIN b USING (tick) ORDER BY tick""".stripMargin)),

    // Y5 — linear time-weighted interpolation onto the grid: the
    // resample().interpolate() family member the pad/backfill/nearest
    // trio doesn't cover. v(tick) = v0 + (v1-v0)·(tick-t0)/(t1-t0)
    // between the pad and backfill neighbors; exact-tick samples
    // return themselves; no extrapolation past either end. Same
    // single-shuffle O(ticks) kernel as `nearest` (both neighbor
    // runnings come out of one map-combined aggregate).
    QueryDef("y5_asof_interp",
      (s, d) => y5Resample(s, d, "interp", Seq("value"))
        .select(col("tick"), round(col("value"), 6).as("value"))
        .orderBy(col("tick")),
      Some(s"""WITH $oracleGridCte,
              |p AS (SELECT g.tick_us, e.ts AS pts, e.value AS pv
              |      FROM g ASOF LEFT JOIN e ON make_timestamp(g.tick_us) >= e.ts),
              |b AS (SELECT g.tick_us, e.ts AS bts, e.value AS bv
              |      FROM g ASOF LEFT JOIN e ON make_timestamp(g.tick_us) <= e.ts)
              |SELECT make_timestamp(p.tick_us) AS tick,
              |  round(CASE WHEN pts IS NULL OR bts IS NULL THEN NULL
              |        WHEN bts = pts THEN pv
              |        ELSE pv + (bv - pv) * ((p.tick_us - epoch_us(pts))::DOUBLE
              |          / (epoch_us(bts) - epoch_us(pts))::DOUBLE) END, 6) AS value
              |FROM p JOIN b USING (tick_us) ORDER BY tick""".stripMargin)),

    // KEYED as-of join — the canonical trade/quote alignment the grid
    // family doesn't cover: each purchase joined to ITS USER's most
    // recent error reading (diagnostic attribution). One shuffle on
    // (user, time bucket); the cross-bucket carry is a per-key window
    // over the tiny (key, bucket) digest. DuckDB's native keyed ASOF
    // JOIN is the oracle.
    QueryDef("q_asof_keyed",
      (s, d) => {
        val ev = events(s, d)
        val purchases = ev.filter(col("event_type") === "purchase")
          .select(col("event_id"), col("user_id"), col("ts"))
        val errors = ev.filter(col("event_type") === "error")
          .groupBy(col("user_id"), col("ts"))
          .agg(max(col("value")).as("value"))
        AsofJoin.keyedPad(purchases, "ts", errors, "ts",
          keyCols = Seq("user_id"), valueCols = Seq("value"),
          srcTsCol = "err_ts")
          .select(col("event_id"), col("user_id"), col("ts"),
            col("err_ts"), col("value").as("err_value"))
          .orderBy(col("event_id"))
      },
      Some("""WITH p AS (SELECT event_id, user_id, ts FROM events
             |  WHERE event_type = 'purchase'),
             |e AS (SELECT user_id, ts, max(value) AS value FROM events
             |  WHERE event_type = 'error' GROUP BY 1, 2)
             |SELECT p.event_id, p.user_id, p.ts, e.ts AS err_ts,
             |  e.value AS err_value
             |FROM p ASOF LEFT JOIN e
             |  ON p.user_id = e.user_id AND p.ts >= e.ts
             |ORDER BY p.event_id""".stripMargin)),

    // Y7 — tolerance as-of + one-hot pivot (app.py:178-191): nearest
    // tick closed-form (tie -> earlier tick), strict < 10 s tolerance.
    QueryDef("y7_event_pivot",
      (s, d) => {
        val (grid, lo, n) = minuteGrid(s, d)
        EventPivot.oneHot(grid, "tick", events(s, d), "ts", "event_type",
          lo, MinuteUs, n, TolUs, Some(EventTypes))
          .orderBy(col("tick"))
      },
      Some("""WITH w AS (SELECT epoch_us(min(ts)) AS lo, epoch_us(max(ts)) AS hi FROM events),
             |w2 AS (SELECT lo, hi, (hi - lo) // 60000000 + 1 AS n FROM w),
             |c AS (SELECT e.ts, e.event_type,
             |        w2.lo + LEAST(w2.n - 1, GREATEST(0,
             |          CAST(ceil((epoch_us(e.ts) - w2.lo - 30000000) / 60000000.0) AS BIGINT)
             |        )) * 60000000 AS tick_us
             |      FROM events e, w2),
             |h AS (SELECT DISTINCT tick_us, event_type FROM c
             |      WHERE abs(epoch_us(ts) - tick_us) < 10000000),
             |p AS (SELECT tick_us,
             |        max(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS event_click,
             |        max(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS event_error,
             |        max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS event_purchase,
             |        max(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END) AS event_signup,
             |        max(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS event_view
             |      FROM h GROUP BY tick_us),
             |g AS (SELECT lo + unnest(range(0, n)) * 60000000 AS tick_us FROM w2)
             |SELECT make_timestamp(g.tick_us) AS tick,
             |  coalesce(event_click, 0) AS event_click,
             |  coalesce(event_error, 0) AS event_error,
             |  coalesce(event_purchase, 0) AS event_purchase,
             |  coalesce(event_signup, 0) AS event_signup,
             |  coalesce(event_view, 0) AS event_view
             |FROM g LEFT JOIN p USING (tick_us) ORDER BY tick""".stripMargin)),

    // FLAGSHIP — the composed reference pipeline (SURVEY §7.3):
    // Y1-Y9 end-to-end. Camera/motion = the even/odd user_id halves of
    // events (deduped per ts), log = all events; 1-min grid over the
    // overlap window, as-of NEAREST resample, one-hot events < 10 s.
    QueryDef("y_sync_flagship",
      (s, d) => flagshipFrame(s, d, "nearest").orderBy(col("timestamp")),
      Some(s"""WITH ${syncFrameCtes()}
             |SELECT make_timestamp(g.tick_us) AS "timestamp",
             |  cn.camera_value, mn.motion_value,
             |  coalesce(event_click, 0) AS event_click,
             |  coalesce(event_error, 0) AS event_error,
             |  coalesce(event_purchase, 0) AS event_purchase,
             |  coalesce(event_signup, 0) AS event_signup,
             |  coalesce(event_view, 0) AS event_view
             |FROM g JOIN cn USING (tick_us) JOIN mn USING (tick_us) LEFT JOIN p USING (tick_us)
             |ORDER BY "timestamp"""".stripMargin)),

    // FLAGSHIP method variants — the reference UI exposes nearest /
    // pad / backfill (+linear interp) for the SAME composed Y1-Y9
    // pipeline (app.py:316-320); each method is oracle-green at the
    // Y5 kernel level, and these grade the full composition under
    // the remaining methods so every reference-surface combination
    // has a driver-checked twin. Identical plan shape to the
    // flagship: one O(ticks) shuffle per sensor, broadcast grid
    // bounds, no per-row asof search.
    QueryDef("y_sync_flagship_pad",
      (s, d) => flagshipFrame(s, d, "pad").orderBy(col("timestamp")),
      Some(s"""WITH ${syncFrameCtes("pad")}
             |SELECT make_timestamp(g.tick_us) AS "timestamp",
             |  cn.camera_value, mn.motion_value,
             |  coalesce(event_click, 0) AS event_click,
             |  coalesce(event_error, 0) AS event_error,
             |  coalesce(event_purchase, 0) AS event_purchase,
             |  coalesce(event_signup, 0) AS event_signup,
             |  coalesce(event_view, 0) AS event_view
             |FROM g JOIN cn USING (tick_us) JOIN mn USING (tick_us) LEFT JOIN p USING (tick_us)
             |ORDER BY "timestamp"""".stripMargin)),

    QueryDef("y_sync_flagship_backfill",
      (s, d) => flagshipFrame(s, d, "backfill").orderBy(col("timestamp")),
      Some(s"""WITH ${syncFrameCtes("backfill")}
             |SELECT make_timestamp(g.tick_us) AS "timestamp",
             |  cn.camera_value, mn.motion_value,
             |  coalesce(event_click, 0) AS event_click,
             |  coalesce(event_error, 0) AS event_error,
             |  coalesce(event_purchase, 0) AS event_purchase,
             |  coalesce(event_signup, 0) AS event_signup,
             |  coalesce(event_view, 0) AS event_view
             |FROM g JOIN cn USING (tick_us) JOIN mn USING (tick_us) LEFT JOIN p USING (tick_us)
             |ORDER BY "timestamp"""".stripMargin)),

    // interp introduces a true division, so both sides round the
    // channel values to 6 decimals (the y5_asof_interp convention).
    QueryDef("y_sync_flagship_interp",
      (s, d) => flagshipFrame(s, d, "interp")
        .select(col("timestamp"),
          round(col("camera_value"), 6).as("camera_value"),
          round(col("motion_value"), 6).as("motion_value"),
          col("event_click"), col("event_error"), col("event_purchase"),
          col("event_signup"), col("event_view"))
        .orderBy(col("timestamp")),
      Some(s"""WITH ${syncFrameCtes("interp")}
             |SELECT make_timestamp(g.tick_us) AS "timestamp",
             |  cn.camera_value, mn.motion_value,
             |  coalesce(event_click, 0) AS event_click,
             |  coalesce(event_error, 0) AS event_error,
             |  coalesce(event_purchase, 0) AS event_purchase,
             |  coalesce(event_signup, 0) AS event_signup,
             |  coalesce(event_view, 0) AS event_view
             |FROM g JOIN cn USING (tick_us) JOIN mn USING (tick_us) LEFT JOIN p USING (tick_us)
             |ORDER BY "timestamp"""".stripMargin)),

    // Sensor fusion on the synchronized frame — the step the reference
    // pipeline synchronizes FOR: a 0.98/0.02 complementary blend of
    // the two aligned channels plus the inter-sensor drift, per grid
    // tick (stateless blend; the stateful recurrences are graded by
    // the EWMA/Holt family). Runs on the same single-shuffle
    // synchronized frame as the flagship; the oracle reuses the
    // shared frame CTEs, so the fusion is checked on the IDENTICAL
    // 43k-tick alignment.
    QueryDef("y_fuse_blend",
      (s, d) => {
        val e = events(s, d)
        def half(parity: Int) = e.filter(col("user_id") % 2 === parity)
          .select(col("ts").as("timestamp"), col("value"))
        val (out, _) = Synchronize.synchronize(s, half(0), half(1), None,
          method = "nearest", stepUs = MinuteUs, tolUs = TolUs,
          eventTypes = None, tieCol = Some("value"))
        out.filter(col("camera_value").isNotNull &&
            col("motion_value").isNotNull)
          .select(col("timestamp"),
            round(col("camera_value") * 0.98 + col("motion_value") * 0.02, 6)
              .as("fused_value"),
            round(col("camera_value") - col("motion_value"), 6)
              .as("sensor_drift"))
          .orderBy(col("timestamp"))
      },
      Some(s"""WITH ${syncFrameCtes()}
             |SELECT make_timestamp(g.tick_us) AS "timestamp",
             |  round(cn.camera_value * 0.98 + mn.motion_value * 0.02, 6)
             |    AS fused_value,
             |  round(cn.camera_value - mn.motion_value, 6) AS sensor_drift
             |FROM g JOIN cn USING (tick_us) JOIN mn USING (tick_us)
             |WHERE cn.camera_value IS NOT NULL
             |  AND mn.motion_value IS NOT NULL
             |ORDER BY "timestamp"""".stripMargin)),

    // A1 — timestamp extremes per table (app.py:155-156).
    QueryDef("a1_minmax",
      (s, d) => {
        val e = Stats.tsExtremes(events(s, d), "ts")
          .select(col("ts_min").as("e_min"), col("ts_max").as("e_max"))
        val o = Stats.tsExtremes(graft.sources.Tables.load(s, d, "orders"), "o_orderdate")
          .select(col("ts_min").as("o_min"), col("ts_max").as("o_max"))
        e.crossJoin(o)
      },
      Some("""SELECT e.e_min, e.e_max, o.o_min, o.o_max
             |FROM (SELECT min(ts) AS e_min, max(ts) AS e_max FROM events) e,
             |     (SELECT min(o_orderdate) AS o_min, max(o_orderdate) AS o_max FROM orders) o""".stripMargin)),

    // A2 — exact linear-interpolation quantiles (app.py:125-126).
    QueryDef("a2_quantiles",
      (s, d) => Stats.quantiles(graft.sources.Tables.load(s, d, "orders"), "o_totalprice",
        Seq(0.01, 0.25, 0.5, 0.75, 0.99))
        .select(round(col("q1"), 4).as("q1"), round(col("q25"), 4).as("q25"),
          round(col("q50"), 4).as("q50"), round(col("q75"), 4).as("q75"),
          round(col("q99"), 4).as("q99")),
      Some("""SELECT round(quantile_cont(o_totalprice, 0.01), 4) AS q1,
             |       round(quantile_cont(o_totalprice, 0.25), 4) AS q25,
             |       round(quantile_cont(o_totalprice, 0.50), 4) AS q50,
             |       round(quantile_cont(o_totalprice, 0.75), 4) AS q75,
             |       round(quantile_cont(o_totalprice, 0.99), 4) AS q99
             |FROM orders""".stripMargin)),

    // A2 at scale, still EXACT — distributed-sort rank selection
    // (range-partitioned sort + global ranks + fetch only the
    // interpolation rows): no O(rows) aggregation buffer anywhere,
    // and the result is bit-identical to the buffered aggregate —
    // proven by sharing a2_quantiles' oracle verbatim.
    QueryDef("a2_quantiles_sorted",
      (s, d) => Stats.quantilesBySort(graft.sources.Tables.load(s, d, "orders"),
        "o_totalprice", Seq(0.01, 0.25, 0.5, 0.75, 0.99))
        .select(round(col("q1"), 4).as("q1"), round(col("q25"), 4).as("q25"),
          round(col("q50"), 4).as("q50"), round(col("q75"), 4).as("q75"),
          round(col("q99"), 4).as("q99")),
      Some("""SELECT round(quantile_cont(o_totalprice, 0.01), 4) AS q1,
             |       round(quantile_cont(o_totalprice, 0.25), 4) AS q25,
             |       round(quantile_cont(o_totalprice, 0.50), 4) AS q50,
             |       round(quantile_cont(o_totalprice, 0.75), 4) AS q75,
             |       round(quantile_cont(o_totalprice, 0.99), 4) AS q99
             |FROM orders""".stripMargin)),

    // A2 at scale — approx_percentile twin of a2_quantiles: mergeable
    // sketch state (KLL-style) instead of the O(rows) exact buffer.
    // This is the documented 100 TB switch for the exact aggregate;
    // sketch merge order varies with partitioning -> rows-only check,
    // accuracy pinned vs the exact answer in StatsSpec.
    QueryDef("a2_quantiles_approx",
      (s, d) => graft.sources.Tables.load(s, d, "orders")
        .agg(expr("approx_percentile(o_totalprice, array(0.01, 0.25, 0.5, 0.75, 0.99), 10000)")
          .as("qs"))
        .select(round(element_at(col("qs"), 1), 4).as("q1"),
          round(element_at(col("qs"), 2), 4).as("q25"),
          round(element_at(col("qs"), 3), 4).as("q50"),
          round(element_at(col("qs"), 4), 4).as("q75"),
          round(element_at(col("qs"), 5), 4).as("q99")),
      None),

    // A3 — exact median (app.py:130).
    QueryDef("a3_median",
      (s, d) => {
        val li = graft.sources.Tables.load(s, d, "lineitem")
        val pct = graft.functions.ExactPercentile.percentiles _
        li.agg(
          round(pct(col("l_quantity"), Seq(0.5)).getItem(0), 4).as("med_qty"),
          round(pct(col("l_extendedprice"), Seq(0.5)).getItem(0), 4).as("med_price"))
      },
      Some("""SELECT round(quantile_cont(l_quantity, 0.5), 4) AS med_qty,
             |       round(quantile_cont(l_extendedprice, 0.5), 4) AS med_price
             |FROM lineitem""".stripMargin)),

    // A4 — pairwise Pearson correlation matrix (app.py:416-431), long
    // format, upper triangle.
    QueryDef("a4_corr_matrix",
      (s, d) => Stats.corrMatrix(graft.sources.Tables.load(s, d, "lineitem"),
        Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax", "l_linenumber"))
        .select(col("col_a"), col("col_b"), round(col("r"), 5).as("r"))
        .orderBy(col("col_a"), col("col_b")),
      Some {
        val cols = Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax", "l_linenumber")
        val rows = for { i <- cols.indices; j <- cols.indices if i < j } yield
          s"SELECT '${cols(i)}' AS col_a, '${cols(j)}' AS col_b, round(corr(${cols(i)}, ${cols(j)}), 5) AS r FROM lineitem"
        rows.mkString("", " UNION ALL ", " ORDER BY col_a, col_b")
      }),

    // A5 — describe()-style exact summary (app.py:464-468), decimal-sum
    // mean/stddev so the result is partition-order independent.
    QueryDef("a5_summary",
      (s, d) => {
        val part = graft.sources.Tables.load(s, d, "part")
        Stats.summaryExact(part, "p_retailprice").select(
          lit("p_retailprice").as("column"), col("cnt"),
          round(col("mean"), 4).as("mean"), round(col("stddev"), 4).as("stddev"),
          round(col("mn"), 4).as("mn"), round(col("mx"), 4).as("mx"),
          round(col("q25"), 4).as("q25"), round(col("q50"), 4).as("q50"),
          round(col("q75"), 4).as("q75"))
      },
      Some("""SELECT 'p_retailprice' AS "column", count(p_retailprice) AS cnt,
             |  round(sum(CAST(p_retailprice AS DECIMAL(28,2)))::DOUBLE / count(p_retailprice), 4) AS mean,
             |  round(sqrt((sum(CAST(p_retailprice * p_retailprice AS DECIMAL(38,4)))::DOUBLE
             |        - sum(CAST(p_retailprice AS DECIMAL(28,2)))::DOUBLE
             |          * sum(CAST(p_retailprice AS DECIMAL(28,2)))::DOUBLE / count(p_retailprice))
             |       / (count(p_retailprice) - 1)), 4) AS stddev,
             |  round(min(p_retailprice), 4) AS mn, round(max(p_retailprice), 4) AS mx,
             |  round(quantile_cont(p_retailprice, 0.25), 4) AS q25,
             |  round(quantile_cont(p_retailprice, 0.50), 4) AS q50,
             |  round(quantile_cont(p_retailprice, 0.75), 4) AS q75
             |FROM part""".stripMargin)),

    // A5-all — reference app.py:466 describes EVERY numeric column of
    // the frame in one call; this is that twin over lineitem's four
    // measures: one aggregate pass, one row per column.
    QueryDef("a5_summary_all",
      (s, d) => {
        // the whole table is one parquet file at bench SF, so the
        // scan yields ONE partition and the heaviest aggregate here
        // (4 exact-decimal Σ/Σ² + 4 percentile buffers) would run
        // single-threaded; fan the 4 projected columns out first (a
        // ~20 MB shuffle). On a real multi-file table the scan is
        // already parallel and this repartition folds into AQE.
        val li = graft.sources.Tables.load(s, d, "lineitem")
          .select("l_quantity", "l_extendedprice", "l_discount", "l_tax")
          .transform(QueryDef.fanOut)
        Stats.summaryAllExact(li,
          Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax"))
          .select(col("column"), col("cnt"),
            round(col("mean"), 4).as("mean"), round(col("stddev"), 4).as("stddev"),
            round(col("mn"), 4).as("mn"), round(col("mx"), 4).as("mx"),
            round(col("q25"), 4).as("q25"), round(col("q50"), 4).as("q50"),
            round(col("q75"), 4).as("q75"))
          .orderBy(col("column"))
      },
      Some(Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax").map { c =>
        s"""SELECT '$c' AS "column", count($c) AS cnt,
           |  round(sum(CAST($c AS DECIMAL(28,2)))::DOUBLE / count($c), 4) AS mean,
           |  round(sqrt((sum(CAST($c * $c AS DECIMAL(38,4)))::DOUBLE
           |        - sum(CAST($c AS DECIMAL(28,2)))::DOUBLE
           |          * sum(CAST($c AS DECIMAL(28,2)))::DOUBLE / count($c))
           |       / (count($c) - 1)), 4) AS stddev,
           |  round(min($c), 4) AS mn, round(max($c), 4) AS mx,
           |  round(quantile_cont($c, 0.25), 4) AS q25,
           |  round(quantile_cont($c, 0.50), 4) AS q50,
           |  round(quantile_cont($c, 0.75), 4) AS q75
           |FROM lineitem""".stripMargin
      }.mkString("", "\nUNION ALL\n", "\nORDER BY \"column\""))),

    // K3 — row-count metrics (app.py:244-260,458-460). Counts come
    // from the parquet footer metadata (what every engine's count(*)
    // fast path reads — DuckDB answers this in milliseconds), not ten
    // full scans; values are identical because footers are exact.
    QueryDef("k3_counts",
      (s, d) => {
        val names = Seq("region", "nation", "customer", "supplier", "part",
          "orders", "lineitem", "events", "documents", "embeddings")
        val rows = names.map(n => (n, graft.sources.Tables.footerRowCount(s, d, n)))
        import scala.jdk.CollectionConverters._
        s.createDataFrame(
          rows.map { case (n, c) => org.apache.spark.sql.Row(n, c) }.asJava,
          org.apache.spark.sql.types.StructType(Seq(
            org.apache.spark.sql.types.StructField("tbl",
              org.apache.spark.sql.types.StringType, nullable = false),
            org.apache.spark.sql.types.StructField("n_rows",
              org.apache.spark.sql.types.LongType, nullable = false))))
          .orderBy(col("tbl"))
      },
      Some(Seq("region", "nation", "customer", "supplier", "part",
        "orders", "lineitem", "events", "documents", "embeddings")
        .map(n => s"SELECT '$n' AS tbl, count(*) AS n_rows FROM $n")
        .mkString("", " UNION ALL ", " ORDER BY tbl")))
  )
}
