package graft.queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Round-13 extension wave: model-evaluation and diagnostic kernels a
  * data platform runs over the SAME digests the earlier rounds built —
  * forecast-accuracy scores (sMAPE / Theil's U2 of the seasonal-naive
  * baseline), distribution-shift monitors (PSI over exact decile
  * bins), randomness/heteroscedasticity screens (Wald–Wolfowitz runs,
  * Brown–Forsythe, Goldfeld–Quandt, Cuzick trend, two-sample
  * Cramér–von Mises), complexity measures (permutation entropy, DFA),
  * and retrieval/classification metrics (PR-AUC, confusion-matrix
  * summary, popularity-recommender evaluation).
  *
  * Reference scope: the reference app (reference `app.py:139-200`)
  * publishes descriptive statistics over sensor channels; these are
  * the evaluation-grade readouts a production fleet adds on top.
  * Determinism discipline (the repo convention): facts collapse in
  * ONE map-side pass to a calendar/hour/group digest; everything
  * until the last projection is exact integer cents / counts;
  * transcendentals are quantized (ln → 12 dp) before any cross-row
  * sum; finals round(…, 4..6).
  */
object R15Queries {

  /** Φ(x), the standard normal CDF, via Abramowitz & Stegun 26.2.17
    * (Zelen & Severo 1964; |ε| < 7.5e-8), emitted as ONE SQL string
    * fed verbatim to Spark `expr()` AND the DuckDB oracle (the R14
    * Acklam-probit / R13 Lanczos-Γ precedent). All constants are
    * written in e-notation: Spark parses `0.5` as DECIMAL but
    * `5.0e-1` as DOUBLE, and only the double spelling makes the two
    * engines run identical IEEE arithmetic. */
  private def normCdfSql(x: String): String = {
    val t = s"(1.0e0 / (1.0e0 + 2.316419e-1 * abs($x)))"
    val poly = s"(((((1.330274429e0 * $t - 1.821255978e0) * $t" +
      s" + 1.781477937e0) * $t - 3.56563782e-1) * $t" +
      s" + 3.1938153e-1) * $t)"
    val upper = s"(exp(-($x) * ($x) / 2.0e0)" +
      s" / 2.5066282746310002e0 * $poly)"
    s"(CASE WHEN ($x) >= 0.0e0 THEN 1.0e0 - $upper ELSE $upper END)"
  }

  val defs: Seq[QueryDef] = Seq(

    // Wald–Wolfowitz runs test (Wald & Wolfowitz 1940) on daily
    // revenue vs its median: too FEW runs = trending/clustered, too
    // MANY = oscillating. The median is the exact lower-median order
    // statistic (integer cents, rank-picked, no interpolation
    // ambiguity); ties WITH the median are dropped (the classical
    // convention); runs are counted with one lag over the calendar
    // digest. z uses the exact n1/n2 moments. 100 TB: one groupBy(day)
    // collapse, then ≤366-row digest windows.
    QueryDef("q_runs_test_daily",
      (s, d) => {
        val daily = graft.sources.Tables.events(s, d)
          .groupBy(to_date(col("ts")).as("day"))
          .agg((sum(col("value").cast("decimal(18,2)")) * 100)
            .cast("long").as("y"))
        val med = daily
          .withColumn("rn", row_number().over(
            Window.orderBy(col("y"), col("day"))))
          .crossJoin(broadcast(daily.agg(count(lit(1)).as("n"))))
          .agg(max(when(col("rn") === expr("(n + 1) div 2"), col("y")))
            .as("m"))
        val sgn = daily.crossJoin(broadcast(med))
          .filter(col("y") =!= col("m"))
          .select(col("day"), (col("y") > col("m")).cast("int").as("s"))
          .withColumn("prev", lag(col("s"), 1).over(
            Window.orderBy(col("day"))))
        sgn.agg(
            sum(col("s")).cast("long").as("n_above"),
            sum(lit(1) - col("s")).cast("long").as("n_below"),
            (sum(when(col("prev").isNull ||
              col("prev") =!= col("s"), 1L).otherwise(0L)))
              .as("n_runs"))
          .select(col("n_above"), col("n_below"), col("n_runs"),
            round(expr(
              """(cast(n_runs as double) - (1.0d
                |  + 2.0d * n_above * n_below / (n_above + n_below)))
                |/ sqrt(2.0d * n_above * n_below
                |  * (2.0d * n_above * n_below - n_above - n_below)
                |  / ((n_above + n_below) * (n_above + n_below)
                |     * (n_above + n_below - 1.0d)))""".stripMargin), 4)
              .as("z"))
      },
      Some("""WITH daily AS (SELECT ts::DATE AS day,
             |    (sum(CAST(value AS DECIMAL(18,2))) * 100)::BIGINT AS y
             |  FROM events GROUP BY 1),
             |rk AS (SELECT y, day,
             |    row_number() OVER (ORDER BY y, day) AS rn FROM daily),
             |med AS (SELECT max(CASE WHEN rn =
             |      ((SELECT count(*) FROM daily) + 1) // 2
             |    THEN y END) AS m FROM rk),
             |sgn AS (SELECT day,
             |    (CASE WHEN y > med.m THEN 1 ELSE 0 END) AS s
             |  FROM daily, med WHERE y != med.m),
             |lg AS (SELECT s, lag(s, 1) OVER (ORDER BY day) AS prev
             |  FROM sgn),
             |agg AS (SELECT sum(s)::BIGINT AS n_above,
             |    sum(1 - s)::BIGINT AS n_below,
             |    sum(CASE WHEN prev IS NULL OR prev != s THEN 1
             |      ELSE 0 END)::BIGINT AS n_runs
             |  FROM lg)
             |SELECT n_above, n_below, n_runs,
             |  round((n_runs::DOUBLE - (1.0
             |      + 2.0 * n_above * n_below / (n_above + n_below)))
             |    / sqrt(2.0 * n_above * n_below
             |      * (2.0 * n_above * n_below - n_above - n_below)
             |      / ((n_above + n_below) * (n_above + n_below)
             |         * (n_above + n_below - 1.0))), 4) AS z
             |FROM agg""".stripMargin)),

    // Brown–Forsythe test (Brown & Forsythe 1974): Levene's equal-
    // variance ANOVA with MEDIAN centers — the robust sibling of the
    // repo's mean-centered Levene. Day-of-week groups over daily
    // revenue; per-group medians are exact HALF-CENT integers
    // (lo+hi order statistics summed, so even-count groups stay
    // float-free), and the one-way F on z = |2y − (mlo+mhi)| uses
    // exact integer Σz / Σz². 100 TB: calendar digest only.
    QueryDef("q_brown_forsythe",
      (s, d) => {
        val daily = graft.sources.Tables.events(s, d)
          .groupBy(to_date(col("ts")).as("day"))
          .agg((sum(col("value").cast("decimal(18,2)")) * 100)
            .cast("long").as("y"))
          .withColumn("g", dayofweek(col("day")))
        val rk = daily
          .withColumn("rn", row_number().over(
            Window.partitionBy(col("g")).orderBy(col("y"), col("day"))))
          .withColumn("cnt", count(lit(1)).over(
            Window.partitionBy(col("g"))))
        val meds = rk.groupBy(col("g")).agg(
          (max(when(col("rn") === expr("(cnt + 1) div 2"), col("y")))
            + max(when(col("rn") === expr("cnt div 2 + 1"), col("y"))))
            .as("m2"))
        val z = daily.join(meds, "g")
          .select(col("g"), abs(lit(2) * col("y") - col("m2")).as("z"))
        val grp = z.groupBy(col("g"))
          .agg(count(lit(1)).as("nj"), sum(col("z")).as("sj"),
            sum(col("z").cast("decimal(38,0)") * col("z")).as("sjj"))
        grp.agg(count(lit(1)).as("k"), sum(col("nj")).as("n"),
            sum(col("sj")).cast("decimal(38,0)").as("st"),
            sum(col("sjj")).as("stt"),
            // sj²/nj is a true division — quantize each group's term
            // to 6 dp BEFORE summing so the 7-term sum is order-free
            // and matches DuckDB's float division exactly
            sum(expr("cast(round(cast(sj as double) * sj / nj, 6)" +
              " as decimal(38,6))")).as("sb"))
          .select(col("k").as("k_groups"), col("n").as("n_days"),
            round(expr(
              """((cast(sb as double) - cast(st as double)
                |    * cast(st as double) / n) / (k - 1.0d))
                |/ nullif((cast(stt as double) - cast(sb as double))
                |   / (n - k), 0.0d)""".stripMargin), 4).as("f_stat"))
      },
      Some("""WITH daily AS (SELECT ts::DATE AS day,
             |    (sum(CAST(value AS DECIMAL(18,2))) * 100)::BIGINT AS y,
             |    dayofweek(ts::DATE) + 1 AS g
             |  FROM events GROUP BY ts::DATE),
             |rk AS (SELECT g, y, day,
             |    row_number() OVER (PARTITION BY g ORDER BY y, day)
             |      AS rn,
             |    count(*) OVER (PARTITION BY g) AS cnt
             |  FROM daily),
             |meds AS (SELECT g,
             |    max(CASE WHEN rn = (cnt + 1) // 2 THEN y END)
             |    + max(CASE WHEN rn = cnt // 2 + 1 THEN y END) AS m2
             |  FROM rk GROUP BY 1),
             |z AS (SELECT daily.g, abs(2 * y - m2)::BIGINT AS z
             |  FROM daily JOIN meds ON daily.g = meds.g),
             |grp AS (SELECT g, count(*)::BIGINT AS nj,
             |    sum(z)::BIGINT AS sj, sum(z::HUGEINT * z) AS sjj
             |  FROM z GROUP BY 1),
             |agg AS (SELECT count(*)::BIGINT AS k, sum(nj)::BIGINT AS n,
             |    sum(sj)::HUGEINT AS st, sum(sjj)::HUGEINT AS stt,
             |    sum(round(sj::DOUBLE * sj / nj, 6)::DECIMAL(38,6))
             |      AS sb
             |  FROM grp)
             |SELECT k AS k_groups, n AS n_days,
             |  round(((sb::DOUBLE - st::DOUBLE * st::DOUBLE / n)
             |      / (k - 1.0))
             |    / nullif((stt::DOUBLE - sb::DOUBLE) / (n - k), 0.0),
             |    4) AS f_stat
             |FROM agg""".stripMargin)),

    // Goldfeld–Quandt heteroscedasticity test (Goldfeld & Quandt
    // 1965) on the daily-revenue-vs-time regression: fit OLS on the
    // FIRST and LAST thirds of the calendar and compare residual sums
    // of squares — a rising F means variance grows with time (the
    // classic funnel). Segment OLS moments are exact integer sums on
    // the cents grid; only the final SSRs and their ratio are
    // doubles. 100 TB: calendar digest only.
    QueryDef("q_goldfeld_quandt",
      (s, d) => {
        val daily = graft.sources.Tables.events(s, d)
          .groupBy(to_date(col("ts")).as("day"))
          .agg((sum(col("value").cast("decimal(18,2)")) * 100)
            .cast("long").as("y"))
          .withColumn("t", row_number().over(Window.orderBy(col("day")))
            .cast("long"))
        val n3 = broadcast(daily.agg((count(lit(1)) / 3).cast("long")
          .as("m"), count(lit(1)).as("n")))
        val seg = daily.crossJoin(n3)
          .withColumn("seg", when(col("t") <= col("m"), 1)
            .when(col("t") > col("n") - col("m"), 2).otherwise(0))
          .filter(col("seg") > 0)
        val mom = seg.groupBy(col("seg"))
          .agg(count(lit(1)).as("nn"), sum(col("t")).as("sx"),
            sum(col("t") * col("t")).as("sxx"),
            sum(col("y")).as("sy"),
            sum(col("t").cast("decimal(38,0)") * col("y")).as("sxy"),
            sum(col("y").cast("decimal(38,0)") * col("y")).as("syy"))
          .withColumn("ssr", expr(
            """(cast(syy as double) - cast(sy as double)
              |   * cast(sy as double) / nn)
              |- (cast(sxy as double) - cast(sx as double)
              |     * cast(sy as double) / nn)
              |  * (cast(sxy as double) - cast(sx as double)
              |     * cast(sy as double) / nn)
              |  / (cast(sxx as double) - cast(sx as double)
              |     * cast(sx as double) / nn)""".stripMargin))
        mom.agg(max(col("nn")).as("n_per_segment"),
            max(when(col("seg") === 1, col("ssr"))).as("ssr1"),
            max(when(col("seg") === 2, col("ssr"))).as("ssr2"))
          .select(col("n_per_segment"),
            round(expr("ssr2 / nullif(ssr1, 0.0)"), 4).as("gq_f"))
      },
      Some("""WITH daily AS (SELECT ts::DATE AS day,
             |    (sum(CAST(value AS DECIMAL(18,2))) * 100)::BIGINT AS y
             |  FROM events GROUP BY 1),
             |idx AS (SELECT y,
             |    row_number() OVER (ORDER BY day)::BIGINT AS t
             |  FROM daily),
             |n3 AS (SELECT (count(*) // 3)::BIGINT AS m,
             |    count(*)::BIGINT AS n FROM idx),
             |seg AS (SELECT t, y,
             |    CASE WHEN t <= m THEN 1
             |      WHEN t > n - m THEN 2 ELSE 0 END AS seg
             |  FROM idx, n3 WHERE t <= m OR t > n - m),
             |mom AS (SELECT seg, count(*)::BIGINT AS nn,
             |    sum(t)::BIGINT AS sx, sum(t * t)::BIGINT AS sxx,
             |    sum(y)::BIGINT AS sy, sum(t::HUGEINT * y) AS sxy,
             |    sum(y::HUGEINT * y) AS syy
             |  FROM seg GROUP BY 1),
             |ssr AS (SELECT seg, nn,
             |    (syy::DOUBLE - sy::DOUBLE * sy::DOUBLE / nn)
             |    - (sxy::DOUBLE - sx::DOUBLE * sy::DOUBLE / nn)
             |      * (sxy::DOUBLE - sx::DOUBLE * sy::DOUBLE / nn)
             |      / (sxx::DOUBLE - sx::DOUBLE * sx::DOUBLE / nn)
             |      AS ssr
             |  FROM mom)
             |SELECT max(nn)::BIGINT AS n_per_segment,
             |  round(max(CASE WHEN seg = 2 THEN ssr END)
             |    / nullif(max(CASE WHEN seg = 1 THEN ssr END), 0.0), 4)
             |    AS gq_f
             |FROM ssr""".stripMargin)),

    // Cuzick trend test (Cuzick 1985): a Wilcoxon-type test for a
    // MONOTONE trend across ORDERED groups — here calendar WEEKS
    // (days-from-start div 7; months would collapse to one group at
    // small time spans) over daily revenue. Ranks are doubled
    // midranks (exact integers under ties), T = Σ l·2R, and the null
    // moments use the exact integer group-weight sums, so z is the
    // only double (NULL when a single group survives — Spark ANSI
    // errors on even a DOUBLE ÷0, so the nullif guard is load-
    // bearing, not cosmetic). 100 TB: calendar digest only.
    QueryDef("q_cuzick_trend",
      (s, d) => {
        val daily = graft.sources.Tables.events(s, d)
          .groupBy(to_date(col("ts")).as("day"))
          .agg((sum(col("value").cast("decimal(18,2)")) * 100)
            .cast("long").as("y"))
        val d0 = broadcast(daily.agg(min(col("day")).as("d0")))
        val lab = daily.crossJoin(d0)
          .withColumn("l",
            (datediff(col("day"), col("d0")).cast("long") / 7)
              .cast("long") + 1)
        // doubled midrank: rank() gives the min rank of the tie
        // block, count() its size — 2R = 2·minrank + (ties − 1)
        val rk = lab
          .withColumn("mr", rank().over(Window.orderBy(col("y"))))
          .withColumn("tc", count(lit(1)).over(
            Window.partitionBy(col("y"))))
          .withColumn("r2", lit(2) * col("mr") + col("tc") - 1)
        val g = rk.groupBy(col("l"))
          .agg(count(lit(1)).as("nj"), sum(col("r2")).as("srj"))
        g.agg(sum(col("nj")).as("n"),
            sum(col("nj") * col("l")).as("sl"),
            sum(col("nj") * col("l") * col("l")).as("sll"),
            sum(col("l").cast("decimal(38,0)") * col("srj")).as("t2"))
          .select(col("n").as("n_days"), col("t2").cast("long").as("t2"),
            round(expr(
              """(cast(t2 as double) - (n + 1.0d) * sl)
                |/ nullif(2.0d * sqrt((n + 1.0d) / 12.0d
                |   * (cast(n as double) * sll
                |      - cast(sl as double) * cast(sl as double))), 0.0d)"""
                .stripMargin), 4).as("z"))
      },
      Some("""WITH daily AS (SELECT ts::DATE AS day,
             |    (sum(CAST(value AS DECIMAL(18,2))) * 100)::BIGINT AS y
             |  FROM events GROUP BY 1),
             |d0 AS (SELECT min(day) AS d0 FROM daily),
             |lab AS (SELECT y,
             |    (datediff('day', d0.d0, day) // 7)::BIGINT + 1 AS l
             |  FROM daily, d0),
             |rk AS (SELECT l,
             |    2 * rank() OVER (ORDER BY y)
             |      + count(*) OVER (PARTITION BY y) - 1 AS r2
             |  FROM lab),
             |g AS (SELECT l, count(*)::BIGINT AS nj,
             |    sum(r2)::BIGINT AS srj FROM rk GROUP BY 1),
             |agg AS (SELECT sum(nj)::BIGINT AS n,
             |    sum(nj * l)::BIGINT AS sl,
             |    sum(nj * l * l)::BIGINT AS sll,
             |    sum(l::HUGEINT * srj) AS t2
             |  FROM g)
             |SELECT n AS n_days, t2::BIGINT AS t2,
             |  round((t2::DOUBLE - (n + 1.0) * sl)
             |    / nullif(2.0 * sqrt((n + 1.0) / 12.0
             |       * (n::DOUBLE * sll - sl::DOUBLE * sl::DOUBLE)),
             |       0.0), 4) AS z
             |FROM agg""".stripMargin)),

    // Two-sample Cramér–von Mises (Anderson 1962): weekend vs weekday
    // daily revenue — the OMNIBUS distribution-equality test that,
    // unlike KS, weights the whole ECDF difference, not just its max.
    // U = n·Σ(r_i − i)² + m·Σ(s_j − j)² over combined ranks; the
    // deterministic (y, day) tie-break makes ranks exact integers in
    // both engines, so U is exact and T = U/(nm(n+m)) − (4nm−1)/
    // (6(n+m)) is the only double. 100 TB: calendar digest only.
    QueryDef("q_cramer_von_mises",
      (s, d) => {
        val daily = graft.sources.Tables.events(s, d)
          .groupBy(to_date(col("ts")).as("day"))
          .agg((sum(col("value").cast("decimal(18,2)")) * 100)
            .cast("long").as("y"))
          .withColumn("w", dayofweek(col("day")).isin(1, 7).cast("int"))
        val rk = daily
          .withColumn("r", row_number().over(
            Window.orderBy(col("y"), col("day"))).cast("long"))
          .withColumn("i", row_number().over(
            Window.partitionBy(col("w"))
              .orderBy(col("y"), col("day"))).cast("long"))
        val u = rk.groupBy(col("w"))
          .agg(count(lit(1)).as("cnt"),
            sum((col("r") - col("i")) * (col("r") - col("i")))
              .as("sq"))
        u.agg(max(when(col("w") === 1, col("cnt"))).as("n1"),
            max(when(col("w") === 0, col("cnt"))).as("n2"),
            max(when(col("w") === 1, col("sq"))).as("q1"),
            max(when(col("w") === 0, col("sq"))).as("q2"))
          .withColumn("t0", expr(
            """(cast(n1 as double) * q1 + cast(n2 as double) * q2)
              |/ (cast(n1 as double) * n2 * (n1 + n2))
              |- (4.0d * n1 * n2 - 1.0d) / (6.0d * (n1 + n2))"""
              .stripMargin))
          // floor-based HALF-UP 6 dp: Spark's round() rounds the
          // double's exact decimal expansion while DuckDB rounds
          // x*1e6 — they disagree on boundary values (this query hit
          // one at sf0.01); identical IEEE floor/abs on both sides
          // cannot diverge
          .select(col("n1").as("n_weekend"), col("n2").as("n_weekday"),
            expr("floor(abs(t0) * 1.0e6 + 0.5) / 1.0e6" +
              " * (case when t0 < 0.0d then -1.0d else 1.0d end)")
              .as("cvm_t"))
      },
      Some("""WITH daily AS (SELECT ts::DATE AS day,
             |    (sum(CAST(value AS DECIMAL(18,2))) * 100)::BIGINT AS y,
             |    (CASE WHEN dayofweek(ts::DATE) IN (0, 6) THEN 1
             |      ELSE 0 END) AS w
             |  FROM events GROUP BY ts::DATE),
             |rk AS (SELECT w,
             |    row_number() OVER (ORDER BY y, day)::BIGINT AS r,
             |    row_number() OVER (PARTITION BY w ORDER BY y, day)
             |      ::BIGINT AS i
             |  FROM daily),
             |u AS (SELECT w, count(*)::BIGINT AS cnt,
             |    sum((r - i) * (r - i))::BIGINT AS sq
             |  FROM rk GROUP BY 1),
             |agg AS (SELECT
             |    max(CASE WHEN w = 1 THEN cnt END)::BIGINT AS n1,
             |    max(CASE WHEN w = 0 THEN cnt END)::BIGINT AS n2,
             |    max(CASE WHEN w = 1 THEN sq END)::BIGINT AS q1,
             |    max(CASE WHEN w = 0 THEN sq END)::BIGINT AS q2
             |  FROM u),
             |t AS (SELECT n1, n2,
             |    (n1::DOUBLE * q1 + n2::DOUBLE * q2)
             |      / (n1::DOUBLE * n2 * (n1 + n2))
             |    - (4.0 * n1 * n2 - 1.0) / (6.0 * (n1 + n2)) AS t0
             |  FROM agg)
             |SELECT n1 AS n_weekend, n2 AS n_weekday,
             |  floor(abs(t0) * 1.0e6 + 0.5) / 1.0e6
             |    * (CASE WHEN t0 < 0.0 THEN -1.0 ELSE 1.0 END) AS cvm_t
             |FROM t""".stripMargin)),

    // Forecast-accuracy scorecard of the SEASONAL-NAIVE baseline
    // (ŷ_t = y_{t−7}): sMAPE (Armstrong 1985) and Theil's U2 (Theil
    // 1966) against the naive lag-1 random walk — the two numbers a
    // demand-planning readout leads with, and the floor every real
    // model must beat. Each sMAPE ratio term is quantized to 9 dp
    // BEFORE the cross-day sum (order-free); U2's numerator and
    // denominator are exact integer sums of squared cent errors, so
    // the final sqrt is the only transcendental. 100 TB: calendar
    // digest only.
    QueryDef("q_forecast_smape",
      (s, d) => {
        val daily = graft.sources.Tables.events(s, d)
          .groupBy(to_date(col("ts")).as("day"))
          .agg((sum(col("value").cast("decimal(18,2)")) * 100)
            .cast("long").as("y"))
        val w = Window.orderBy(col("day"))
        val f = daily
          .withColumn("sn", lag(col("y"), 7).over(w))
          .withColumn("nv", lag(col("y"), 1).over(w))
          .filter(col("sn").isNotNull && col("nv").isNotNull)
        f.agg(count(lit(1)).as("n_forecasts"),
            sum(expr("cast(round(cast(abs(y - sn) as double)" +
              " / nullif(cast(y + sn as double), 0.0d), 9)" +
              " as decimal(20,9))")).as("sr"),
            sum(expr("cast(y - sn as decimal(38,0))" +
              " * cast(y - sn as decimal(38,0))")).as("se"),
            sum(expr("cast(y - nv as decimal(38,0))" +
              " * cast(y - nv as decimal(38,0))")).as("ne"))
          .select(col("n_forecasts"),
            round(expr("200.0d * cast(sr as double) / n_forecasts"), 4)
              .as("smape"),
            round(expr("sqrt(cast(se as double)" +
              " / nullif(cast(ne as double), 0.0d))"), 4)
              .as("theil_u2"))
      },
      Some("""WITH daily AS (SELECT ts::DATE AS day,
             |    (sum(CAST(value AS DECIMAL(18,2))) * 100)::BIGINT AS y
             |  FROM events GROUP BY 1),
             |f AS (SELECT y,
             |    lag(y, 7) OVER (ORDER BY day) AS sn,
             |    lag(y, 1) OVER (ORDER BY day) AS nv
             |  FROM daily
             |  QUALIFY sn IS NOT NULL AND nv IS NOT NULL),
             |agg AS (SELECT count(*)::BIGINT AS n_forecasts,
             |    sum(round(abs(y - sn)::DOUBLE
             |      / nullif((y + sn)::DOUBLE, 0.0), 9)::DECIMAL(20,9))
             |      AS sr,
             |    sum((y - sn)::HUGEINT * (y - sn)) AS se,
             |    sum((y - nv)::HUGEINT * (y - nv)) AS ne
             |  FROM f)
             |SELECT n_forecasts,
             |  round(200.0 * sr::DOUBLE / n_forecasts, 4) AS smape,
             |  round(sqrt(se::DOUBLE / nullif(ne::DOUBLE, 0.0)), 4)
             |    AS theil_u2
             |FROM agg""".stripMargin)),

    // Detrended fluctuation analysis (Peng et al. 1994): long-range
    // correlation of daily revenue. The mean-centered profile is the
    // EXACT integer cumulative sum X_t = Σ(n·y_i − Σy) (n-cents
    // grid); for each box size s ∈ {4,8,16,32} the profile splits
    // into ⌊n/s⌋ full boxes, each linearly detrended by the
    // closed-form OLS residual (exact integer moments, one double
    // division per box, quantized to 6 dp before the cross-box mean);
    // α is the OLS slope of ln F(s) vs ln s over the 4-point digest
    // (12-dp-quantized logs). α≈0.5 = uncorrelated, α>1 = trending.
    // 100 TB: calendar digest × 4 box sizes.
    QueryDef("q_dfa_alpha",
      (s, d) => {
        val daily = graft.sources.Tables.events(s, d)
          .groupBy(to_date(col("ts")).as("day"))
          .agg((sum(col("value").cast("decimal(18,2)")) * 100)
            .cast("long").as("y"))
        val g = broadcast(daily.agg(count(lit(1)).as("n"),
          sum(col("y")).as("sy")))
        val w = Window.orderBy(col("day"))
        val prof = daily.crossJoin(g)
          .withColumn("t", row_number().over(w).cast("long"))
          .withColumn("xp", sum(col("n") * col("y") - col("sy")).over(
            w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        val sizes = broadcast(s.createDataFrame(
          Seq(4L, 8L, 16L, 32L).map(Tuple1(_))).toDF("bs"))
        val boxes = prof.crossJoin(sizes)
          .withColumn("box", expr("(t - 1) div bs"))
          .withColumn("i", expr("(t - 1) % bs + 1"))
          .crossJoin(broadcast(daily.agg(count(lit(1)).as("nn"))))
          .filter(col("box") < expr("nn div bs"))
        val perBox = boxes.groupBy(col("bs"), col("box"))
          .agg(sum(col("i")).as("sx"), sum(col("i") * col("i")).as("sxx"),
            sum(col("xp")).cast("decimal(38,0)").as("sv"),
            sum(col("i").cast("decimal(38,0)") * col("xp")).as("sxv"),
            sum(col("xp").cast("decimal(38,0)") * col("xp")).as("svv"))
          .withColumn("ssr", expr(
            """cast(svv as double) - cast(sv as double)
              |  * cast(sv as double) / bs
              |- (cast(sxv as double) - cast(sx as double)
              |     * cast(sv as double) / bs)
              |  * (cast(sxv as double) - cast(sx as double)
              |     * cast(sv as double) / bs)
              |  / (cast(sxx as double) - cast(sx as double)
              |     * cast(sx as double) / bs)""".stripMargin))
        val fs = perBox.groupBy(col("bs"))
          .agg(count(lit(1)).as("n_boxes"),
            sum(expr("cast(round(ssr, 6) as decimal(38,6))")).as("sssr"))
          .withColumn("fluct", expr(
            "sqrt(cast(sssr as double) / n_boxes / bs)"))
          .withColumn("lf", expr(
            "cast(round(ln(fluct), 12) as decimal(20,12))"))
          .withColumn("ls", expr(
            "cast(round(ln(cast(bs as double)), 12) as decimal(20,12))"))
        val alpha = broadcast(fs.agg(count(lit(1)).as("k"),
            sum(col("ls")).as("a"), sum(col("lf")).as("b"),
            sum((col("ls") * col("lf")).cast("decimal(38,24)")).as("ab"),
            sum((col("ls") * col("ls")).cast("decimal(38,24)")).as("aa"))
          .select(expr(
            """(cast(k as double) * cast(ab as double)
              |  - cast(a as double) * cast(b as double))
              |/ (cast(k as double) * cast(aa as double)
              |   - cast(a as double) * cast(a as double))"""
              .stripMargin).as("al")))
        fs.crossJoin(alpha)
          .select(col("bs").as("box_size"), col("n_boxes"),
            round(col("fluct"), 4).as("fluct"),
            round(col("al"), 4).as("alpha"))
          .orderBy(col("box_size"))
      },
      Some("""WITH daily AS (SELECT ts::DATE AS day,
             |    (sum(CAST(value AS DECIMAL(18,2))) * 100)::BIGINT AS y
             |  FROM events GROUP BY 1),
             |g AS (SELECT count(*)::BIGINT AS n, sum(y)::BIGINT AS sy
             |  FROM daily),
             |prof AS (SELECT
             |    row_number() OVER (ORDER BY day)::BIGINT AS t,
             |    sum(g.n * y - g.sy) OVER (ORDER BY day
             |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
             |      ::BIGINT AS xp
             |  FROM daily, g),
             |sizes AS (SELECT unnest([4, 8, 16, 32])::BIGINT AS bs),
             |boxes AS (SELECT bs, (t - 1) // bs AS box,
             |    (t - 1) % bs + 1 AS i, xp
             |  FROM prof, sizes, g WHERE (t - 1) // bs < g.n // bs),
             |perbox AS (SELECT bs, box, sum(i)::BIGINT AS sx,
             |    sum(i * i)::BIGINT AS sxx, sum(xp)::HUGEINT AS sv,
             |    sum(i::HUGEINT * xp) AS sxv,
             |    sum(xp::HUGEINT * xp) AS svv
             |  FROM boxes GROUP BY 1, 2),
             |ssr AS (SELECT bs, box,
             |    svv::DOUBLE - sv::DOUBLE * sv::DOUBLE / bs
             |    - (sxv::DOUBLE - sx::DOUBLE * sv::DOUBLE / bs)
             |      * (sxv::DOUBLE - sx::DOUBLE * sv::DOUBLE / bs)
             |      / (sxx::DOUBLE - sx::DOUBLE * sx::DOUBLE / bs)
             |      AS ssr
             |  FROM perbox),
             |fs AS (SELECT bs, count(*)::BIGINT AS n_boxes,
             |    sqrt(sum(round(ssr, 6)::DECIMAL(38,6))::DOUBLE
             |      / count(*) / bs) AS fluct
             |  FROM ssr GROUP BY 1),
             |lf AS (SELECT bs, n_boxes, fluct,
             |    round(ln(fluct), 12)::DECIMAL(20,12) AS lf,
             |    round(ln(bs::DOUBLE), 12)::DECIMAL(20,12) AS ls
             |  FROM fs),
             |al AS (SELECT (count(*)::DOUBLE
             |      * sum((ls * lf)::DECIMAL(38,24))::DOUBLE
             |    - sum(ls)::DOUBLE * sum(lf)::DOUBLE)
             |    / (count(*)::DOUBLE
             |       * sum((ls * ls)::DECIMAL(38,24))::DOUBLE
             |       - sum(ls)::DOUBLE * sum(ls)::DOUBLE) AS al
             |  FROM lf)
             |SELECT bs AS box_size, n_boxes, round(fluct, 4) AS fluct,
             |  round(al.al, 4) AS alpha
             |FROM lf, al ORDER BY box_size""".stripMargin)),

    // Quadrat test of spatial randomness (Greig-Smith 1952) on the
    // hour-of-week lattice: are events uniformly spread over the
    // 7×24 = 168 weekly cells, or clumped? The χ² against uniform
    // reduces ALGEBRAICALLY to 168·ΣO²/n − n (empty cells included
    // automatically — each contributes exactly E to the classic sum),
    // so the whole test is one integer aggregate over the cell
    // digest. 100 TB: one fact-sized groupBy to ≤168 cells.
    QueryDef("q_quadrat_test",
      (s, d) => {
        val cells = graft.sources.Tables.events(s, d)
          .groupBy(dayofweek(col("ts")).as("dw"),
            hour(col("ts")).as("hr"))
          .agg(count(lit(1)).as("o"))
        cells.agg(sum(col("o")).as("n"),
            count(lit(1)).as("n_cells_occupied"),
            sum(col("o") * col("o")).as("ss"),
            max(col("o")).as("max_cell"))
          .select(col("n").as("n_events"), col("n_cells_occupied"),
            col("max_cell"),
            round(expr(
              "168.0d * cast(ss as double) / n - cast(n as double)"), 4)
              .as("chi2"))
      },
      Some("""WITH cells AS (SELECT dayofweek(ts) AS dw,
             |    hour(ts) AS hr, count(*)::BIGINT AS o
             |  FROM events GROUP BY 1, 2),
             |agg AS (SELECT sum(o)::BIGINT AS n,
             |    count(*)::BIGINT AS n_cells_occupied,
             |    sum(o * o)::BIGINT AS ss, max(o)::BIGINT AS max_cell
             |  FROM cells)
             |SELECT n AS n_events, n_cells_occupied, max_cell,
             |  round(168.0 * ss::DOUBLE / n - n::DOUBLE, 4) AS chi2
             |FROM agg""".stripMargin)),

    // Confusion-matrix scorecard (Matthews 1975; Cohen 1960; Youden
    // 1950) of the above-mean-spend rule as a purchase classifier:
    // predict "purchase" iff the event's value exceeds the corpus
    // mean. The threshold compare is the EXACT cross-multiplied
    // integer inequality vc·n > Σvc (no float mean anywhere), the
    // four cells are one conditional aggregate, and MCC / Cohen's κ /
    // Youden's J / F1 / balanced accuracy are final-projection
    // doubles off the 4 integers. 100 TB: two fact-sized aggregates
    // (mean digest + cells), zero shuffles beyond them.
    QueryDef("q_confusion_metrics",
      (s, d) => {
        val ev = graft.sources.Tables.events(s, d)
          .select((col("value").cast("decimal(18,2)") * 100)
            .cast("long").as("vc"),
            (col("event_type") === "purchase").cast("long").as("lb"))
        val g = broadcast(ev.agg(count(lit(1)).as("n"),
          sum(col("vc")).as("sv")))
        val c = ev.crossJoin(g)
          .withColumn("pr", (col("vc") * col("n") > col("sv"))
            .cast("long"))
          .agg(sum(col("pr") * col("lb")).as("tp"),
            sum(col("pr") * (lit(1L) - col("lb"))).as("fp"),
            sum((lit(1L) - col("pr")) * col("lb")).as("fn"),
            sum((lit(1L) - col("pr")) * (lit(1L) - col("lb")))
              .as("tn"))
        c.select(col("tp"), col("fp"), col("fn"), col("tn"),
          round(expr(
            """(cast(tp as double) * tn - cast(fp as double) * fn)
              |/ nullif(sqrt((cast(tp as double) + fp)
              |  * (cast(tp as double) + fn)
              |  * (cast(tn as double) + fp)
              |  * (cast(tn as double) + fn)), 0.0d)""".stripMargin), 6)
            .as("mcc"),
          round(expr(
            """2.0d * (cast(tp as double) * tn
              |        - cast(fn as double) * fp)
              |/ nullif((cast(tp as double) + fp)
              |    * (cast(fp as double) + tn)
              |  + (cast(tp as double) + fn)
              |    * (cast(fn as double) + tn), 0.0d)""".stripMargin), 6)
            .as("kappa"),
          round(expr(
            """cast(tp as double) / nullif(cast(tp + fn as double), 0.0d)
              |+ cast(tn as double)
              |  / nullif(cast(tn + fp as double), 0.0d) - 1.0d"""
              .stripMargin), 6).as("youden_j"),
          round(expr(
            """2.0d * tp
              |/ nullif(2.0d * tp + fp + fn, 0.0d)""".stripMargin), 6)
            .as("f1"),
          round(expr(
            """(cast(tp as double) / nullif(cast(tp + fn as double), 0.0d)
              |+ cast(tn as double)
              |  / nullif(cast(tn + fp as double), 0.0d)) / 2.0d"""
              .stripMargin), 6).as("balanced_acc"))
      },
      Some("""WITH ev AS (SELECT
             |    (CAST(value AS DECIMAL(18,2)) * 100)::BIGINT AS vc,
             |    (CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
             |      ::BIGINT AS lb
             |  FROM events),
             |g AS (SELECT count(*)::BIGINT AS n, sum(vc)::BIGINT AS sv
             |  FROM ev),
             |c AS (SELECT
             |    sum(CASE WHEN vc * n > sv THEN lb ELSE 0 END)
             |      ::BIGINT AS tp,
             |    sum(CASE WHEN vc * n > sv THEN 1 - lb ELSE 0 END)
             |      ::BIGINT AS fp,
             |    sum(CASE WHEN vc * n <= sv THEN lb ELSE 0 END)
             |      ::BIGINT AS fn,
             |    sum(CASE WHEN vc * n <= sv THEN 1 - lb ELSE 0 END)
             |      ::BIGINT AS tn
             |  FROM ev, g)
             |SELECT tp, fp, fn, tn,
             |  round((tp::DOUBLE * tn - fp::DOUBLE * fn)
             |    / nullif(sqrt((tp::DOUBLE + fp) * (tp::DOUBLE + fn)
             |      * (tn::DOUBLE + fp) * (tn::DOUBLE + fn)), 0.0), 6)
             |    AS mcc,
             |  round(2.0 * (tp::DOUBLE * tn - fn::DOUBLE * fp)
             |    / nullif((tp::DOUBLE + fp) * (fp::DOUBLE + tn)
             |      + (tp::DOUBLE + fn) * (fn::DOUBLE + tn), 0.0), 6)
             |    AS kappa,
             |  round(tp::DOUBLE / nullif((tp + fn)::DOUBLE, 0.0)
             |    + tn::DOUBLE / nullif((tn + fp)::DOUBLE, 0.0) - 1.0, 6)
             |    AS youden_j,
             |  round(2.0 * tp / nullif(2.0 * tp + fp + fn, 0.0), 6)
             |    AS f1,
             |  round((tp::DOUBLE / nullif((tp + fn)::DOUBLE, 0.0)
             |    + tn::DOUBLE / nullif((tn + fp)::DOUBLE, 0.0)) / 2.0, 6)
             |    AS balanced_acc
             |FROM c""".stripMargin)),

    // Precision-recall AUC (average precision, step-interpolated) of
    // the hour-of-day propensity score: the score is each hour's
    // purchase rate measured on the FIRST half of the time span
    // (integer ppm — leakage-safe: scored events come from the
    // SECOND half only). The PR curve lives on the ≤24-row score
    // digest: cumulative TP/FP in (score desc, hour) order, AP =
    // Σ Δrecall·precision with each step term quantized to 9 dp.
    // The companion to the ROC-AUC query for the imbalanced-label
    // regime. 100 TB: one fact pass → 24-row digest.
    QueryDef("q_pr_auc",
      (s, d) => {
        val ev = graft.sources.Tables.events(s, d)
          .select(unix_micros(col("ts")).as("us"),
            hour(col("ts")).as("hr"),
            (col("event_type") === "purchase").cast("long").as("lb"))
        val mid = broadcast(ev.agg(
          ((min(col("us")) + max(col("us"))) / 2).cast("long")
            .as("m")))
        val sc = ev.crossJoin(mid).filter(col("us") < col("m"))
          .groupBy(col("hr")).agg(
            (sum(col("lb")) * 1000000 / count(lit(1))).cast("long")
              .as("score"))
        val te = ev.crossJoin(mid).filter(col("us") >= col("m"))
          .groupBy(col("hr")).agg(sum(col("lb")).as("pos"),
            sum(lit(1L) - col("lb")).as("neg"))
        val w = Window.orderBy(col("score").desc, col("hr"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        val cum = te.join(sc, "hr")
          .withColumn("ctp", sum(col("pos")).over(w))
          .withColumn("cfp", sum(col("neg")).over(w))
        val tot = broadcast(cum.agg(max(col("ctp")).as("p"),
          max(col("cfp")).as("ng")))
        cum.crossJoin(tot)
          .select(col("p"), col("ng"),
            // nullif guards: a second half with zero purchases gives
            // p = 0 and ANSI Spark errors on DOUBLE ÷0 where DuckDB
            // publishes inf/nan (the q_cuzick divergence class) —
            // NULL terms on both sides keep the engines aligned.
            expr("""cast(round((cast(pos as double) / nullif(p, 0))
              |  * (cast(ctp as double) / nullif(ctp + cfp, 0)), 9)
              |  as decimal(20,9))""".stripMargin).as("term"))
          .groupBy(col("p"), col("ng"))
          .agg(round(sum(col("term")).cast("double"), 6).as("pr_auc"))
          .select(col("p").as("n_pos"), col("ng").as("n_neg"),
            col("pr_auc"))
      },
      Some("""WITH ev AS (SELECT epoch_us(ts) AS us, hour(ts) AS hr,
             |    (CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
             |      ::BIGINT AS lb
             |  FROM events),
             |mid AS (SELECT ((min(us) + max(us)) // 2)::BIGINT AS m
             |  FROM ev),
             |sc AS (SELECT hr,
             |    (sum(lb) * 1000000 // count(*))::BIGINT AS score
             |  FROM ev, mid WHERE us < m GROUP BY 1),
             |te AS (SELECT hr, sum(lb)::BIGINT AS pos,
             |    sum(1 - lb)::BIGINT AS neg
             |  FROM ev, mid WHERE us >= m GROUP BY 1),
             |cum AS (SELECT te.hr, pos, neg,
             |    sum(pos) OVER (ORDER BY score DESC, te.hr
             |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
             |      ::BIGINT AS ctp,
             |    sum(neg) OVER (ORDER BY score DESC, te.hr
             |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
             |      ::BIGINT AS cfp
             |  FROM te JOIN sc ON te.hr = sc.hr),
             |tot AS (SELECT max(ctp)::BIGINT AS p,
             |    max(cfp)::BIGINT AS ng FROM cum)
             |SELECT p AS n_pos, ng AS n_neg,
             |  round(sum(round((pos::DOUBLE / nullif(p, 0))
             |      * (ctp::DOUBLE / nullif(ctp + cfp, 0)), 9)
             |      ::DECIMAL(20,9))
             |    ::DOUBLE, 6) AS pr_auc
             |FROM cum, tot GROUP BY 1, 2""".stripMargin)),

    // Popularity-recommender evaluation (the Cremonesi et al. 2010
    // protocol): recommend the 5 most-ordered parts of the FIRST
    // half of the order calendar to every customer, grade against
    // what each customer ACTUALLY ordered in the second half —
    // hit rate, precision@5, recall@5, MRR and MAP@5 in one row.
    // The top-5 list is a broadcast digest; per-customer test sets
    // come from one (custkey, partkey) distinct reduce; each
    // customer's metric terms are quantized to 9 dp before the
    // cross-customer mean so the final averages are order-free.
    // 100 TB: facts collapse to the per-customer digest once;
    // everything after rides ≤5-row-per-customer joins.
    QueryDef("q_rec_eval",
      (s, d) => {
        // the fact join rides the co-bucketed (orderkey) artifacts —
        // zero join shuffle at any scale (the r15 plain-parquet join
        // shuffled lineitem AND orders twice; the sweep measured the
        // query at wall 1.89 / cpu 7.3 at 10× because of it)
        val li = graft.sources.Bucketing.lineitemBucketed(s, d)
          .select(col("l_orderkey"), col("l_partkey"))
          .join(graft.sources.Bucketing.ordersBucketed(s, d)
            .select(col("o_orderkey"), col("o_custkey"),
              to_date(col("o_orderdate")).as("o_orderdate")),
            col("l_orderkey") === col("o_orderkey"))
        val mid = broadcast(li.agg(expr(
          "date_add(min(o_orderdate)," +
            " cast(datediff(max(o_orderdate), min(o_orderdate)) div 2" +
            " as int))").as("m")))
        // ONE digest keyed (part, cust-or-NULL) serves both halves:
        // first-half rows all map to (part, NULL) so the popularity
        // tally collapses MAP-SIDE to ~|parts| rows per partition
        // (the r15 (cust, part) key kept first-half rows at full
        // digest cardinality — that shuffle was the sweep's hot
        // stage); second-half rows map to (part, cust), i.e. the
        // test-set membership dedups in the same single shuffle.
        val cp = li.crossJoin(mid)
          .groupBy(col("l_partkey").as("part"),
            when(col("o_orderdate") >= col("m"), col("o_custkey"))
              .as("cust"))
          .agg(sum(when(col("o_orderdate") < col("m"), 1L).otherwise(0L))
              .as("nlo"))
        // (part, NULL) groups exist iff the part has ≥1 first-half
        // row, so nlo > 0 holds by construction; the rows ARE the
        // per-part tally — no second aggregate needed
        val top5 = broadcast(cp.filter(col("cust").isNull)
          .select(col("part"), col("nlo").as("cnt"))
          .orderBy(col("cnt").desc, col("part")).limit(5)
          .select(col("part").as("rp"),
            row_number().over(Window.orderBy(col("cnt").desc,
              col("part"))).as("rk")))
        val test = cp.filter(col("cust").isNotNull)
          .select(col("cust"), col("part"))
        val ntp = test.groupBy(col("cust"))
          .agg(count(lit(1)).as("n_test"))
        val hits = test.join(top5, col("part") === col("rp"))
          .select(col("cust"), col("rk"))
        val perHit = hits
          .withColumn("prec", count(lit(1)).over(
            Window.partitionBy(col("cust")).orderBy(col("rk"))
              .rowsBetween(Window.unboundedPreceding,
                Window.currentRow)).cast("double") / col("rk"))
        val perUser = perHit.groupBy(col("cust"))
          .agg(count(lit(1)).as("nhit"), min(col("rk")).as("fr"),
            sum(col("prec")).as("sprec"))
        val ev = ntp.join(perUser, Seq("cust"), "left")
          .select(col("n_test"),
            coalesce(col("nhit"), lit(0L)).as("nhit"), col("fr"),
            coalesce(col("sprec"), lit(0.0)).as("sprec"))
        ev.agg(count(lit(1)).as("n_users"),
            sum(when(col("nhit") > 0, 1L).otherwise(0L)).as("nh"),
            sum(expr("cast(round(nhit / 5.0d, 9) as decimal(20,9))"))
              .as("sp"),
            sum(expr("cast(round(cast(nhit as double) / n_test, 9)" +
              " as decimal(20,9))")).as("srr"),
            sum(expr("cast(round(coalesce(1.0d / fr, 0.0d), 9)" +
              " as decimal(20,9))")).as("smrr"),
            sum(expr("cast(round(sprec" +
              " / least(cast(5 as double), cast(n_test as double)), 9)" +
              " as decimal(20,9))")).as("smap"))
          .select(col("n_users"),
            round(expr("cast(nh as double) / n_users"), 6)
              .as("hit_rate"),
            round(expr("cast(sp as double) / n_users"), 6)
              .as("precision_at_5"),
            round(expr("cast(srr as double) / n_users"), 6)
              .as("recall_at_5"),
            round(expr("cast(smrr as double) / n_users"), 6)
              .as("mrr"),
            round(expr("cast(smap as double) / n_users"), 6)
              .as("map_at_5"))
      },
      Some("""WITH li AS (SELECT l_partkey, o_custkey,
             |    o_orderdate::DATE AS o_orderdate
             |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
             |mid AS (SELECT min(o_orderdate)
             |    + (datediff('day', min(o_orderdate),
             |        max(o_orderdate)) // 2)::INT AS m
             |  FROM li),
             |top5 AS (SELECT l_partkey AS rp,
             |    row_number() OVER (ORDER BY cnt DESC, l_partkey)
             |      AS rk
             |  FROM (SELECT l_partkey, count(*)::BIGINT AS cnt
             |    FROM li, mid WHERE o_orderdate < m GROUP BY 1
             |    ORDER BY cnt DESC, l_partkey LIMIT 5)),
             |test AS (SELECT DISTINCT o_custkey AS cust,
             |    l_partkey AS part
             |  FROM li, mid WHERE o_orderdate >= m),
             |ntp AS (SELECT cust, count(*)::BIGINT AS n_test
             |  FROM test GROUP BY 1),
             |hits AS (SELECT cust, rk FROM test
             |  JOIN top5 ON part = rp),
             |perhit AS (SELECT cust, rk,
             |    count(*) OVER (PARTITION BY cust ORDER BY rk
             |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
             |      ::DOUBLE / rk AS prec
             |  FROM hits),
             |peruser AS (SELECT cust, count(*)::BIGINT AS nhit,
             |    min(rk)::BIGINT AS fr, sum(prec) AS sprec
             |  FROM perhit GROUP BY 1),
             |ev AS (SELECT n_test,
             |    coalesce(nhit, 0)::BIGINT AS nhit, fr,
             |    coalesce(sprec, 0.0) AS sprec
             |  FROM ntp LEFT JOIN peruser USING (cust)),
             |agg AS (SELECT count(*)::BIGINT AS n_users,
             |    sum(CASE WHEN nhit > 0 THEN 1 ELSE 0 END)::BIGINT
             |      AS nh,
             |    sum(round(nhit / 5.0, 9)::DECIMAL(20,9)) AS sp,
             |    sum(round(nhit::DOUBLE / n_test, 9)::DECIMAL(20,9))
             |      AS srr,
             |    sum(round(coalesce(1.0 / fr, 0.0), 9)
             |      ::DECIMAL(20,9)) AS smrr,
             |    sum(round(sprec / least(5.0, n_test::DOUBLE), 9)
             |      ::DECIMAL(20,9)) AS smap
             |  FROM ev)
             |SELECT n_users,
             |  round(nh::DOUBLE / n_users, 6) AS hit_rate,
             |  round(sp::DOUBLE / n_users, 6) AS precision_at_5,
             |  round(srr::DOUBLE / n_users, 6) AS recall_at_5,
             |  round(smrr::DOUBLE / n_users, 6) AS mrr,
             |  round(smap::DOUBLE / n_users, 6) AS map_at_5
             |FROM agg""".stripMargin)),

    // Intra-list diversity (Ziegler et al. 2005) of each query's
    // exact top-5 neighbor list: mean pairwise cosine DISTANCE among
    // the 5 recommended vectors — the "are we recommending five
    // copies of the same thing?" readout next to sim_topk_*'s
    // accuracy. Lists are 5 rows per query, so the pair fan-out is
    // 10 per query regardless of corpus size; vectors join onto the
    // pair set by id. 100 TB: the brute-force scan is the only
    // fact-sized stage (same plan as sim_topk_brute).
    QueryDef("emb_intra_list_diversity",
      (s, d) => {
        val emb = graft.sources.Tables.load(s, d, "embeddings")
        val top = graft.ext.Similarity.bruteForceTopK(
          emb, emb.filter(col("vec_id") < 10), 5)
          .select(col("query_id"), col("neighbor_id"))
        val pairs = top.alias("a").join(top.alias("b"),
          col("a.query_id") === col("b.query_id") &&
            col("a.neighbor_id") < col("b.neighbor_id"))
          .select(col("a.query_id").as("query_id"),
            col("a.neighbor_id").as("na"),
            col("b.neighbor_id").as("nb"))
        val va = emb.select(col("vec_id").as("na"),
          col("embedding").as("__va"))
        val vb = emb.select(col("vec_id").as("nb"),
          col("embedding").as("__vb"))
        pairs.join(va, "na").join(vb, "nb")
          .select(col("query_id"),
            expr("""cast(round(1.0d - cast(
              |  aggregate(zip_with(cast(__va as array<double>),
              |      cast(__vb as array<double>), (x, y) -> x * y),
              |    cast(0.0 as double), (acc, v) -> acc + v)
              |  / sqrt(aggregate(transform(cast(__va as array<double>),
              |      x -> x * x), cast(0.0 as double),
              |      (acc, v) -> acc + v)
              |    * aggregate(transform(cast(__vb as array<double>),
              |      x -> x * x), cast(0.0 as double),
              |      (acc, v) -> acc + v)) as double), 9)
              |as decimal(20,9))""".stripMargin).as("dist"))
          .groupBy(col("query_id"))
          .agg(count(lit(1)).as("n_pairs"),
            round(sum(col("dist")).cast("double") / count(lit(1)), 6)
              .as("ild"))
          .orderBy(col("query_id"))
      },
      Some("""WITH t AS (SELECT vec_id, embedding::DOUBLE[] AS v
             |  FROM embeddings),
             |bf AS (SELECT query_id, neighbor_id FROM (
             |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
             |    row_number() OVER (PARTITION BY q.vec_id
             |      ORDER BY list_cosine_similarity(q.v, c.v) DESC,
             |        c.vec_id) AS rank
             |  FROM t q, t c
             |  WHERE q.vec_id < 10 AND c.vec_id != q.vec_id)
             |  WHERE rank <= 5),
             |pairs AS (SELECT a.query_id, a.neighbor_id AS na,
             |    b.neighbor_id AS nb
             |  FROM bf a JOIN bf b ON a.query_id = b.query_id
             |    AND a.neighbor_id < b.neighbor_id),
             |d AS (SELECT query_id,
             |    round(1.0 - (list_dot_product(x.v, y.v)
             |      / sqrt(list_dot_product(x.v, x.v)
             |             * list_dot_product(y.v, y.v))), 9)
             |      ::DECIMAL(20,9) AS dist
             |  FROM pairs JOIN t x ON x.vec_id = na
             |    JOIN t y ON y.vec_id = nb)
             |SELECT query_id, count(*)::BIGINT AS n_pairs,
             |  round(sum(dist)::DOUBLE / count(*), 6) AS ild
             |FROM d GROUP BY 1 ORDER BY query_id""".stripMargin)),

    // Catalog coverage + exposure concentration of the top-5 lists:
    // how much of the corpus do the 10 queries' recommendations
    // actually surface, and how unequally is that exposure spread
    // (max appearances of any one vector)? The aggregation-bias
    // readout every retrieval stack publishes next to its recall.
    // 100 TB: the lists are 50 rows; only the brute-force scan is
    // fact-sized.
    QueryDef("emb_catalog_coverage",
      (s, d) => {
        val emb = graft.sources.Tables.load(s, d, "embeddings")
        val top = graft.ext.Similarity.bruteForceTopK(
          emb, emb.filter(col("vec_id") < 10), 5)
          .select(col("query_id"), col("neighbor_id"))
        val n = broadcast(emb.agg(count(lit(1)).as("corpus_n")))
        top.crossJoin(n)
          .agg(max(col("corpus_n")).as("corpus_n"),
            count(lit(1)).as("n_recommendations"),
            countDistinct(col("neighbor_id"))
              .as("n_distinct_neighbors"),
            max(col("query_id")).as("__mq"))
          .crossJoin(broadcast(top.groupBy(col("neighbor_id"))
            .agg(count(lit(1)).as("c"))
            .agg(max(col("c")).as("max_exposure"))))
          .select(col("corpus_n"), col("n_recommendations"),
            col("n_distinct_neighbors"),
            expr("n_distinct_neighbors * 1000000 div corpus_n")
              .as("coverage_ppm"),
            col("max_exposure"))
      },
      Some("""WITH t AS (SELECT vec_id, embedding::DOUBLE[] AS v
             |  FROM embeddings),
             |bf AS (SELECT query_id, neighbor_id FROM (
             |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
             |    row_number() OVER (PARTITION BY q.vec_id
             |      ORDER BY list_cosine_similarity(q.v, c.v) DESC,
             |        c.vec_id) AS rank
             |  FROM t q, t c
             |  WHERE q.vec_id < 10 AND c.vec_id != q.vec_id)
             |  WHERE rank <= 5),
             |exp AS (SELECT max(c)::BIGINT AS max_exposure FROM (
             |  SELECT neighbor_id, count(*)::BIGINT AS c FROM bf
             |  GROUP BY 1)),
             |n AS (SELECT count(*)::BIGINT AS corpus_n FROM t)
             |SELECT corpus_n,
             |  count(*)::BIGINT AS n_recommendations,
             |  count(DISTINCT neighbor_id)::BIGINT
             |    AS n_distinct_neighbors,
             |  (count(DISTINCT neighbor_id) * 1000000 // corpus_n)
             |    ::BIGINT AS coverage_ppm,
             |  max(max_exposure)::BIGINT AS max_exposure
             |FROM bf, n, exp
             |GROUP BY corpus_n""".stripMargin)),

    // Hosmer–Lemeshow goodness-of-fit χ² (Hosmer & Lemeshow 1980) of
    // the hour-of-day propensity score (first-half purchase rate in
    // exact ppm) against SECOND-half outcomes: the 24 score groups
    // are packed into 10 bins by cumulative-count position (exact
    // integer bin = 10·prev_count div total), and each bin's
    // (O − E)²/(E(1 − E/n)) term is 9-dp-quantized before the
    // ≤10-term sum. Degenerate bins (E = 0 or E = n) publish NULL
    // terms, which both engines' SUM skip identically. 100 TB: one
    // fact pass → 24-row digest.
    QueryDef("q_hosmer_lemeshow",
      (s, d) => {
        val ev = graft.sources.Tables.events(s, d)
          .select(unix_micros(col("ts")).as("us"),
            hour(col("ts")).as("hr"),
            (col("event_type") === "purchase").cast("long").as("lb"))
        val mid = broadcast(ev.agg(
          ((min(col("us")) + max(col("us"))) / 2).cast("long").as("m")))
        val sc = ev.crossJoin(mid).filter(col("us") < col("m"))
          .groupBy(col("hr")).agg(
            (sum(col("lb")) * 1000000 / count(lit(1))).cast("long")
              .as("score"))
        val te = ev.crossJoin(mid).filter(col("us") >= col("m"))
          .groupBy(col("hr")).agg(count(lit(1)).as("nh"),
            sum(col("lb")).as("pos"))
        val w = Window.orderBy(col("score").desc, col("hr"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        val cum = te.join(sc, "hr")
          .withColumn("cumn", sum(col("nh")).over(w))
          .crossJoin(broadcast(te.agg(sum(col("nh")).as("tot"))))
          .withColumn("bin", expr("((cumn - nh) * 10) div tot"))
        val bins = cum.groupBy(col("bin"))
          .agg(sum(col("nh")).as("nb"), sum(col("pos")).as("o"),
            sum(col("nh") * col("score")).as("e6"))
          .withColumn("term", expr(
            """cast(round(
              |  (cast(o as double) - cast(e6 as double) / 1.0e6)
              |  * (cast(o as double) - cast(e6 as double) / 1.0e6)
              |  / nullif(cast(e6 as double) / 1.0e6
              |     * (1.0e0 - cast(e6 as double) / 1.0e6 / nb), 0.0d),
              |  9) as decimal(20,9))""".stripMargin))
        bins.agg(count(lit(1)).as("n_bins"),
            sum(col("nb")).as("n_scored"),
            round(sum(col("term")).cast("double"), 4).as("hl_chi2"))
      },
      Some("""WITH ev AS (SELECT epoch_us(ts) AS us, hour(ts) AS hr,
             |    (CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
             |      ::BIGINT AS lb
             |  FROM events),
             |mid AS (SELECT ((min(us) + max(us)) // 2)::BIGINT AS m
             |  FROM ev),
             |sc AS (SELECT hr,
             |    (sum(lb) * 1000000 // count(*))::BIGINT AS score
             |  FROM ev, mid WHERE us < m GROUP BY 1),
             |te AS (SELECT hr, count(*)::BIGINT AS nh,
             |    sum(lb)::BIGINT AS pos
             |  FROM ev, mid WHERE us >= m GROUP BY 1),
             |tot AS (SELECT sum(nh)::BIGINT AS tot FROM te),
             |cum AS (SELECT te.hr, nh, pos, score,
             |    sum(nh) OVER (ORDER BY score DESC, te.hr
             |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
             |      ::BIGINT AS cumn
             |  FROM te JOIN sc ON te.hr = sc.hr),
             |bins AS (SELECT ((cumn - nh) * 10) // tot AS bin,
             |    sum(nh)::BIGINT AS nb, sum(pos)::BIGINT AS o,
             |    sum(nh * score)::BIGINT AS e6
             |  FROM cum, tot GROUP BY 1),
             |terms AS (SELECT nb, round(
             |    (o::DOUBLE - e6::DOUBLE / 1.0e6)
             |    * (o::DOUBLE - e6::DOUBLE / 1.0e6)
             |    / nullif(e6::DOUBLE / 1.0e6
             |       * (1.0 - e6::DOUBLE / 1.0e6 / nb), 0.0),
             |    9)::DECIMAL(20,9) AS term
             |  FROM bins)
             |SELECT count(*)::BIGINT AS n_bins,
             |  sum(nb)::BIGINT AS n_scored,
             |  round(sum(term)::DOUBLE, 4) AS hl_chi2
             |FROM terms""".stripMargin)),

    // Cumulative-gains / lift table of the same propensity score:
    // per population decile (packed from the 24 score groups by the
    // SAME integer bin rule as Hosmer–Lemeshow), the captured
    // positives, cumulative gain and bin lift — the
    // campaign-targeting readout next to ROC/PR. Published in exact
    // integer ppm (gain = cum_pos·10^6 div P, lift = pos·N·10^6 div
    // (n_bin·P)), so the gate compares integers. 100 TB: one fact
    // pass → 24-row digest.
    QueryDef("q_lift_gains",
      (s, d) => {
        val ev = graft.sources.Tables.events(s, d)
          .select(unix_micros(col("ts")).as("us"),
            hour(col("ts")).as("hr"),
            (col("event_type") === "purchase").cast("long").as("lb"))
        val mid = broadcast(ev.agg(
          ((min(col("us")) + max(col("us"))) / 2).cast("long").as("m")))
        val sc = ev.crossJoin(mid).filter(col("us") < col("m"))
          .groupBy(col("hr")).agg(
            (sum(col("lb")) * 1000000 / count(lit(1))).cast("long")
              .as("score"))
        val te = ev.crossJoin(mid).filter(col("us") >= col("m"))
          .groupBy(col("hr")).agg(count(lit(1)).as("nh"),
            sum(col("lb")).as("pos"))
        val w = Window.orderBy(col("score").desc, col("hr"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        val cum = te.join(sc, "hr")
          .withColumn("cumn", sum(col("nh")).over(w))
          .crossJoin(broadcast(te.agg(sum(col("nh")).as("tot"),
            sum(col("pos")).as("p"))))
          .withColumn("bin", expr("((cumn - nh) * 10) div tot"))
        cum.groupBy(col("bin"))
          .agg(max(col("tot")).as("tot"), max(col("p")).as("p"),
            sum(col("nh")).as("n_bin"), sum(col("pos")).as("pos_bin"))
          .withColumn("cum_pos", sum(col("pos_bin")).over(
            Window.orderBy(col("bin"))
              .rowsBetween(Window.unboundedPreceding,
                Window.currentRow)))
          .select(col("bin"), col("n_bin"), col("pos_bin"),
            col("cum_pos"),
            // products through decimal(38,0): pos_bin·tot·1e6 passes
            // 2^63 once second-half events reach ~3M with a
            // concentrated bin — DuckDB silently widens to HUGEINT,
            // ANSI Spark would throw. div still lands on BIGINT.
            expr("cast(cum_pos as decimal(38,0)) * 1000000 div p")
              .as("gain_ppm"),
            expr("""cast(pos_bin as decimal(38,0)) * tot * 1000000
              |div (cast(n_bin as decimal(38,0)) * p)""".stripMargin)
              .as("lift_ppm"))
          .orderBy(col("bin"))
      },
      Some("""WITH ev AS (SELECT epoch_us(ts) AS us, hour(ts) AS hr,
             |    (CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
             |      ::BIGINT AS lb
             |  FROM events),
             |mid AS (SELECT ((min(us) + max(us)) // 2)::BIGINT AS m
             |  FROM ev),
             |sc AS (SELECT hr,
             |    (sum(lb) * 1000000 // count(*))::BIGINT AS score
             |  FROM ev, mid WHERE us < m GROUP BY 1),
             |te AS (SELECT hr, count(*)::BIGINT AS nh,
             |    sum(lb)::BIGINT AS pos
             |  FROM ev, mid WHERE us >= m GROUP BY 1),
             |tot AS (SELECT sum(nh)::BIGINT AS tot,
             |    sum(pos)::BIGINT AS p FROM te),
             |cum AS (SELECT te.hr, nh, pos,
             |    sum(nh) OVER (ORDER BY score DESC, te.hr
             |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
             |      ::BIGINT AS cumn
             |  FROM te JOIN sc ON te.hr = sc.hr),
             |bins AS (SELECT ((cumn - nh) * 10) // tot AS bin,
             |    sum(nh)::BIGINT AS n_bin, sum(pos)::BIGINT AS pos_bin
             |  FROM cum, tot GROUP BY 1),
             |g AS (SELECT bin, n_bin, pos_bin,
             |    sum(pos_bin) OVER (ORDER BY bin
             |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
             |      ::BIGINT AS cum_pos
             |  FROM bins)
             |SELECT bin, n_bin, pos_bin, cum_pos,
             |  (cum_pos * 1000000 // p)::BIGINT AS gain_ppm,
             |  (pos_bin * tot * 1000000 // (n_bin * p))::BIGINT
             |    AS lift_ppm
             |FROM g, tot ORDER BY bin""".stripMargin)),

    // Classifier KS separation (Kolmogorov–Smirnov distance between
    // the positive and negative score CDFs) of the propensity score —
    // credit-scoring's standard single-number discriminator. The max
    // |TPR − FPR| is found on EXACT cross-multiplied integers
    // (|ctp·N − cfp·P|), so the argmax and its tie-break (smallest
    // score) are integer-deterministic; only the published ks divides.
    // 100 TB: one fact pass → 24-row digest.
    QueryDef("q_ks_classifier",
      (s, d) => {
        val ev = graft.sources.Tables.events(s, d)
          .select(unix_micros(col("ts")).as("us"),
            hour(col("ts")).as("hr"),
            (col("event_type") === "purchase").cast("long").as("lb"))
        val mid = broadcast(ev.agg(
          ((min(col("us")) + max(col("us"))) / 2).cast("long").as("m")))
        val sc = ev.crossJoin(mid).filter(col("us") < col("m"))
          .groupBy(col("hr")).agg(
            (sum(col("lb")) * 1000000 / count(lit(1))).cast("long")
              .as("score"))
        val te = ev.crossJoin(mid).filter(col("us") >= col("m"))
          .groupBy(col("hr")).agg(sum(col("lb")).as("pos"),
            sum(lit(1L) - col("lb")).as("neg"))
        val w = Window.orderBy(col("score").desc, col("hr"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        val cum = te.join(sc, "hr")
          .withColumn("ctp", sum(col("pos")).over(w))
          .withColumn("cfp", sum(col("neg")).over(w))
          .crossJoin(broadcast(te.agg(sum(col("pos")).as("p"),
            sum(col("neg")).as("ng"))))
          .withColumn("dn", abs(col("ctp") * col("ng") -
            col("cfp") * col("p")))
        cum.orderBy(col("dn").desc, col("score"))
          .limit(1)
          .select(col("p").as("n_pos"), col("ng").as("n_neg"),
            round(expr("cast(dn as double)" +
              " / (cast(p as double) * ng)"), 6).as("ks_stat"),
            col("score").as("at_score_ppm"))
      },
      Some("""WITH ev AS (SELECT epoch_us(ts) AS us, hour(ts) AS hr,
             |    (CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
             |      ::BIGINT AS lb
             |  FROM events),
             |mid AS (SELECT ((min(us) + max(us)) // 2)::BIGINT AS m
             |  FROM ev),
             |sc AS (SELECT hr,
             |    (sum(lb) * 1000000 // count(*))::BIGINT AS score
             |  FROM ev, mid WHERE us < m GROUP BY 1),
             |te AS (SELECT hr, sum(lb)::BIGINT AS pos,
             |    sum(1 - lb)::BIGINT AS neg
             |  FROM ev, mid WHERE us >= m GROUP BY 1),
             |tot AS (SELECT sum(pos)::BIGINT AS p,
             |    sum(neg)::BIGINT AS ng FROM te),
             |cum AS (SELECT score,
             |    sum(pos) OVER (ORDER BY score DESC, te.hr
             |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
             |      ::BIGINT AS ctp,
             |    sum(neg) OVER (ORDER BY score DESC, te.hr
             |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
             |      ::BIGINT AS cfp
             |  FROM te JOIN sc ON te.hr = sc.hr),
             |d AS (SELECT score, abs(ctp * ng - cfp * p) AS dn, p, ng
             |  FROM cum, tot
             |  ORDER BY dn DESC, score LIMIT 1)
             |SELECT p AS n_pos, ng AS n_neg,
             |  round(dn::DOUBLE / (p::DOUBLE * ng), 6) AS ks_stat,
             |  score AS at_score_ppm
             |FROM d""".stripMargin)),

    // Lilliefors normality test (Lilliefors 1967): the KS distance of
    // daily revenue against a normal with MEAN AND SD FITTED FROM THE
    // SAMPLE — the right null when parameters are estimated, where
    // plain KS is anticonservative. Φ is the shared A&S 26.2.17
    // rational literal (identical string in both engines, e-notation
    // so Spark parses doubles); the two one-sided gaps use exact
    // integer ranks, and the max over the digest is order-free.
    // 100 TB: calendar digest only.
    QueryDef("q_lilliefors",
      (s, d) => {
        val daily = graft.sources.Tables.events(s, d)
          .groupBy(to_date(col("ts")).as("day"))
          .agg((sum(col("value").cast("decimal(18,2)")) * 100)
            .cast("long").as("y"))
        val g = broadcast(daily.agg(count(lit(1)).as("n"),
          sum(col("y")).as("sy"),
          sum(col("y").cast("decimal(38,0)") * col("y")).as("syy")))
        val z = daily.crossJoin(g)
          .withColumn("rn", row_number().over(
            Window.orderBy(col("y"), col("day"))).cast("long"))
          .withColumn("zv", expr(
            """(cast(y as double) - cast(sy as double) / n)
              |/ sqrt((cast(syy as double) - cast(sy as double)
              |    * cast(sy as double) / n) / (n - 1.0e0))"""
              .stripMargin))
          .withColumn("phi", expr(normCdfSql("zv")))
        z.agg(max(col("n")).as("n_days"),
            round(greatest(
              max(expr("cast(rn as double) / n - phi")),
              max(expr("phi - (cast(rn as double) - 1.0e0) / n")))
              .cast("double"), 6).as("lilliefors_d"))
      },
      Some(s"""WITH daily AS (SELECT ts::DATE AS day,
             |    (sum(CAST(value AS DECIMAL(18,2))) * 100)::BIGINT AS y
             |  FROM events GROUP BY 1),
             |g AS (SELECT count(*)::BIGINT AS n, sum(y)::BIGINT AS sy,
             |    sum(y::HUGEINT * y) AS syy FROM daily),
             |z AS (SELECT
             |    row_number() OVER (ORDER BY y, day)::BIGINT AS rn,
             |    (y::DOUBLE - sy::DOUBLE / n)
             |    / sqrt((syy::DOUBLE - sy::DOUBLE * sy::DOUBLE / n)
             |        / (n - 1.0e0)) AS zv,
             |    n
             |  FROM daily, g),
             |p AS (SELECT rn, n, ${normCdfSql("zv")} AS phi FROM z)
             |SELECT max(n)::BIGINT AS n_days,
             |  round(greatest(max(rn::DOUBLE / n - phi),
             |    max(phi - (rn::DOUBLE - 1.0e0) / n)), 6)
             |    AS lilliefors_d
             |FROM p""".stripMargin)),

    // KL and Jensen–Shannon divergence between the FIRST- and
    // SECOND-half hour-of-week usage distributions — the
    // distribution-drift monitor next to PSI, on the full 7×24
    // lattice with add-one smoothing (so unseen cells never produce
    // log 0, and both halves live on the same support). Counts are
    // exact integers; each of the 168 ln terms is quantized to 12 dp
    // before the sum (order-free). JS is symmetric and bounded by
    // ln 2 — the spec pins both laws. 100 TB: one fact pass → 168-
    // cell digest.
    QueryDef("q_kl_js_drift",
      (s, d) => {
        val ev = graft.sources.Tables.events(s, d)
          .select(unix_micros(col("ts")).as("us"),
            dayofweek(col("ts")).as("dw"), hour(col("ts")).as("hr"))
        val mid = broadcast(ev.agg(
          ((min(col("us")) + max(col("us"))) / 2).cast("long").as("m")))
        val cnt = ev.crossJoin(mid)
          .groupBy(col("dw"), col("hr"))
          .agg(sum(when(col("us") < col("m"), 1L).otherwise(0L))
            .as("c1"),
            sum(when(col("us") >= col("m"), 1L).otherwise(0L))
              .as("c2"))
        val spine = s.range(1, 8).select(col("id").as("dw"))
          .crossJoin(s.range(0, 24).select(col("id").as("hr")))
        val cells = spine.join(broadcast(cnt), Seq("dw", "hr"), "left")
          .select(coalesce(col("c1"), lit(0L)).as("c1"),
            coalesce(col("c2"), lit(0L)).as("c2"))
        val tot = broadcast(cells.agg(sum(col("c1")).as("n1"),
          sum(col("c2")).as("n2")))
        val terms = cells.crossJoin(tot)
          .withColumn("p1", expr(
            "cast(c1 + 1 as double) / (n1 + 168)"))
          .withColumn("p2", expr(
            "cast(c2 + 1 as double) / (n2 + 168)"))
          .select(col("n1"), col("n2"),
            expr("cast(round(p1 * ln(p1 / p2), 12)" +
              " as decimal(20,12))").as("klt"),
            expr("cast(round(p1 * ln(2.0e0 * p1 / (p1 + p2)), 12)" +
              " as decimal(20,12))").as("jst1"),
            expr("cast(round(p2 * ln(2.0e0 * p2 / (p1 + p2)), 12)" +
              " as decimal(20,12))").as("jst2"))
        terms.groupBy(col("n1"), col("n2"))
          .agg(round(sum(col("klt")).cast("double"), 6).as("kl_nats"),
            round((sum(col("jst1")) + sum(col("jst2")))
              .cast("double") / 2.0, 6).as("js_nats"))
          .select(col("n1").as("n_first"), col("n2").as("n_second"),
            col("kl_nats"), col("js_nats"))
      },
      Some("""WITH ev AS (SELECT epoch_us(ts) AS us,
             |    dayofweek(ts) + 1 AS dw, hour(ts) AS hr FROM events),
             |mid AS (SELECT ((min(us) + max(us)) // 2)::BIGINT AS m
             |  FROM ev),
             |cnt AS (SELECT dw, hr,
             |    sum(CASE WHEN us < m THEN 1 ELSE 0 END)::BIGINT AS c1,
             |    sum(CASE WHEN us >= m THEN 1 ELSE 0 END)::BIGINT AS c2
             |  FROM ev, mid GROUP BY 1, 2),
             |spine AS (SELECT d.range + 1 AS dw, h.range AS hr
             |  FROM range(0, 7) d, range(0, 24) h),
             |cells AS (SELECT coalesce(c1, 0)::BIGINT AS c1,
             |    coalesce(c2, 0)::BIGINT AS c2
             |  FROM spine LEFT JOIN cnt USING (dw, hr)),
             |tot AS (SELECT sum(c1)::BIGINT AS n1,
             |    sum(c2)::BIGINT AS n2 FROM cells),
             |terms AS (SELECT n1, n2,
             |    round(((c1 + 1)::DOUBLE / (n1 + 168))
             |      * ln(((c1 + 1)::DOUBLE / (n1 + 168))
             |          / ((c2 + 1)::DOUBLE / (n2 + 168))), 12)
             |      ::DECIMAL(20,12) AS klt,
             |    round(((c1 + 1)::DOUBLE / (n1 + 168))
             |      * ln(2.0e0 * ((c1 + 1)::DOUBLE / (n1 + 168))
             |          / (((c1 + 1)::DOUBLE / (n1 + 168))
             |             + ((c2 + 1)::DOUBLE / (n2 + 168)))), 12)
             |      ::DECIMAL(20,12) AS jst1,
             |    round(((c2 + 1)::DOUBLE / (n2 + 168))
             |      * ln(2.0e0 * ((c2 + 1)::DOUBLE / (n2 + 168))
             |          / (((c1 + 1)::DOUBLE / (n1 + 168))
             |             + ((c2 + 1)::DOUBLE / (n2 + 168)))), 12)
             |      ::DECIMAL(20,12) AS jst2
             |  FROM cells, tot)
             |SELECT n1 AS n_first, n2 AS n_second,
             |  round(sum(klt)::DOUBLE, 6) AS kl_nats,
             |  round((sum(jst1) + sum(jst2))::DOUBLE / 2.0, 6)
             |    AS js_nats
             |FROM terms GROUP BY 1, 2""".stripMargin)),

    // 1-Wasserstein (earth-mover) distance between the weekend and
    // weekday daily-revenue distributions: ∫|F₁ − F₂| dx over the
    // combined support. The integral is EXACT integer arithmetic —
    // Σ |c₁·n₂ − c₂·n₁|·Δx on the cents grid, divided once by n₁·n₂
    // at the end — so the gate compares a deterministic number with
    // no per-step float. The metric companion to q_cramer_von_mises
    // (which tests; this MEASURES the transport cost in dollars).
    // 100 TB: calendar digest only.
    QueryDef("q_wasserstein_daily",
      (s, d) => {
        val daily = graft.sources.Tables.events(s, d)
          .groupBy(to_date(col("ts")).as("day"))
          .agg((sum(col("value").cast("decimal(18,2)")) * 100)
            .cast("long").as("y"))
          .withColumn("w", dayofweek(col("day")).isin(1, 7)
            .cast("long"))
        val pts = daily.groupBy(col("y"))
          .agg(sum(col("w")).as("d1"), sum(lit(1L) - col("w"))
            .as("d2"))
        val wo = Window.orderBy(col("y"))
        val cum = pts
          .withColumn("c1", sum(col("d1")).over(
            wo.rowsBetween(Window.unboundedPreceding,
              Window.currentRow)))
          .withColumn("c2", sum(col("d2")).over(
            wo.rowsBetween(Window.unboundedPreceding,
              Window.currentRow)))
          .withColumn("nx", lead(col("y"), 1).over(wo))
          .filter(col("nx").isNotNull)
        val tot = broadcast(daily.agg(sum(col("w")).as("n1"),
          sum(lit(1L) - col("w")).as("n2")))
        cum.crossJoin(tot)
          .agg(max(col("n1")).as("n_weekend"),
            max(col("n2")).as("n_weekday"),
            sum(abs(col("c1") * col("n2") - col("c2") * col("n1"))
              .cast("decimal(38,0)") * (col("nx") - col("y")))
              .as("num"))
          .crossJoin(tot)
          .select(col("n_weekend"), col("n_weekday"),
            round(expr(
              """cast(num as double)
                |/ (cast(n1 as double) * n2) / 100.0e0"""
                .stripMargin), 4).as("w1_dollars"))
      },
      Some("""WITH daily AS (SELECT ts::DATE AS day,
             |    (sum(CAST(value AS DECIMAL(18,2))) * 100)::BIGINT AS y,
             |    (CASE WHEN dayofweek(ts::DATE) IN (0, 6) THEN 1
             |      ELSE 0 END)::BIGINT AS w
             |  FROM events GROUP BY ts::DATE),
             |pts AS (SELECT y, sum(w)::BIGINT AS d1,
             |    sum(1 - w)::BIGINT AS d2
             |  FROM daily GROUP BY 1),
             |cum AS (SELECT y,
             |    sum(d1) OVER (ORDER BY y
             |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
             |      ::BIGINT AS c1,
             |    sum(d2) OVER (ORDER BY y
             |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
             |      ::BIGINT AS c2,
             |    lead(y, 1) OVER (ORDER BY y) AS nx
             |  FROM pts QUALIFY nx IS NOT NULL),
             |tot AS (SELECT sum(w)::BIGINT AS n1,
             |    sum(1 - w)::BIGINT AS n2 FROM daily),
             |agg AS (SELECT n1, n2,
             |    sum(abs(c1 * n2 - c2 * n1)::HUGEINT * (nx - y)) AS num
             |  FROM cum, tot GROUP BY 1, 2)
             |SELECT n1 AS n_weekend, n2 AS n_weekday,
             |  round(num::DOUBLE / (n1::DOUBLE * n2) / 100.0e0, 4)
             |    AS w1_dollars
             |FROM agg""".stripMargin)),

    // Reciprocal-rank fusion (Cormack et al. 2009) of the exact-
    // cosine and binary-Hamming rankings: score(c) = Σ 1/(60 + r_i)
    // over the lists where candidate c appears (top-10 each), fused
    // top-3 per query — the standard way a retrieval stack merges a
    // dense and a cheap-code ranker without score calibration. Each
    // 1/(60+r) term is round(10^9/(60+r)) — computed as a pure
    // integer half-up division, so ranks, scores and ties are all
    // integer-deterministic with no float anywhere. 100 TB: same scan shape as the two
    // underlying rankers.
    QueryDef("emb_rrf_fusion",
      (s, d) => {
        val emb = graft.sources.Tables.load(s, d, "embeddings")
        val cosR = graft.ext.Similarity.bruteForceTopK(
          emb, emb.filter(col("vec_id") < 10), 10)
          .select(col("query_id"), col("neighbor_id"),
            col("rank").as("rc"))
        val codes = emb.select(col("vec_id"),
          expr("transform(embedding, x -> " +
            "CAST(round(CAST(x AS DOUBLE) * 1000) AS BIGINT))")
            .as("iv"))
          .select(col("vec_id"),
            expr("aggregate(sequence(1, 32), 0L, (acc, j) -> acc + " +
              "CASE WHEN iv[j-1] > 0 THEN shiftleft(1L, j-1)" +
              " ELSE 0L END)").as("h0"),
            expr("aggregate(sequence(33, 64), 0L, (acc, j) -> acc + " +
              "CASE WHEN iv[j-1] > 0 THEN shiftleft(1L, j-33)" +
              " ELSE 0L END)").as("h1"))
        val qc = codes.filter(col("vec_id") < 10)
          .toDF("query_id", "q0", "q1")
        val hamR = codes.join(broadcast(qc),
            col("vec_id") =!= col("query_id"))
          .select(col("query_id"), col("vec_id").as("neighbor_id"),
            (expr("bit_count(h0 ^ q0)") + expr("bit_count(h1 ^ q1)"))
              .cast("long").as("hamming"))
          .withColumn("rh", row_number().over(
            Window.partitionBy(col("query_id"))
              .orderBy(col("hamming"), col("neighbor_id"))))
          .filter(col("rh") <= 10)
          .select(col("query_id"), col("neighbor_id"), col("rh"))
        val fused = cosR.join(hamR, Seq("query_id", "neighbor_id"),
            "full_outer")
          // round(10^9/(60+r)) spelled as the EXACT integer half-up
          // division (2e9 + d) div 2d — a double product here lands
          // within an ulp of an integer, where Spark's truncating
          // cast and DuckDB's rounding cast can disagree
          .withColumn("rrf_e9",
            coalesce(expr("(2000000000L + (60 + rc))" +
              " div (2 * (60 + rc))"), lit(0L)) +
            coalesce(expr("(2000000000L + (60 + rh))" +
              " div (2 * (60 + rh))"), lit(0L)))
          .withColumn("fused_rank", row_number().over(
            Window.partitionBy(col("query_id"))
              .orderBy(col("rrf_e9").desc, col("neighbor_id"))))
          .filter(col("fused_rank") <= 3)
        fused.select(col("query_id"), col("fused_rank"),
            col("neighbor_id"), col("rrf_e9"))
          .orderBy(col("query_id"), col("fused_rank"))
      },
      Some("""WITH t AS (SELECT vec_id, embedding::DOUBLE[] AS v
             |  FROM embeddings),
             |rc AS (SELECT query_id, neighbor_id, rank AS rc FROM (
             |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
             |    row_number() OVER (PARTITION BY q.vec_id
             |      ORDER BY list_cosine_similarity(q.v, c.v) DESC,
             |        c.vec_id) AS rank
             |  FROM t q, t c
             |  WHERE q.vec_id < 10 AND c.vec_id != q.vec_id)
             |  WHERE rank <= 10),
             |cod AS (SELECT vec_id,
             |    CAST(list_sum(list_transform(range(1, 33),
             |      j -> CASE WHEN CAST(round(v[j] * 1000) AS BIGINT) > 0
             |        THEN (1::BIGINT << (j-1)) ELSE 0::BIGINT END))
             |      AS BIGINT) AS h0,
             |    CAST(list_sum(list_transform(range(33, 65),
             |      j -> CASE WHEN CAST(round(v[j] * 1000) AS BIGINT) > 0
             |        THEN (1::BIGINT << (j-33)) ELSE 0::BIGINT END))
             |      AS BIGINT) AS h1
             |  FROM t),
             |qc AS (SELECT vec_id AS query_id, h0 AS q0, h1 AS q1
             |  FROM cod WHERE vec_id < 10),
             |rh AS (SELECT query_id, neighbor_id, rh FROM (
             |  SELECT qc.query_id, c.vec_id AS neighbor_id,
             |    row_number() OVER (PARTITION BY qc.query_id
             |      ORDER BY bit_count(xor(c.h0, qc.q0))
             |        + bit_count(xor(c.h1, qc.q1)), c.vec_id) AS rh
             |  FROM cod c, qc WHERE c.vec_id != qc.query_id)
             |  WHERE rh <= 10),
             |fused AS (SELECT coalesce(rc.query_id, rh.query_id)
             |      AS query_id,
             |    coalesce(rc.neighbor_id, rh.neighbor_id)
             |      AS neighbor_id,
             |    coalesce((2000000000 + (60 + rc.rc))
             |      // (2 * (60 + rc.rc)), 0)::BIGINT
             |    + coalesce((2000000000 + (60 + rh.rh))
             |      // (2 * (60 + rh.rh)), 0)::BIGINT AS rrf_e9
             |  FROM rc FULL JOIN rh ON rc.query_id = rh.query_id
             |    AND rc.neighbor_id = rh.neighbor_id),
             |rkd AS (SELECT query_id, neighbor_id, rrf_e9,
             |    row_number() OVER (PARTITION BY query_id
             |      ORDER BY rrf_e9 DESC, neighbor_id) AS fused_rank
             |  FROM fused)
             |SELECT query_id, fused_rank, neighbor_id, rrf_e9
             |FROM rkd WHERE fused_rank <= 3
             |ORDER BY query_id, fused_rank""".stripMargin)),

    // k-NN graph reciprocity over the bounded baseline corpus
    // (vec_id < 200, the sim_neardup_embedding discipline): the share
    // of top-5 edges that are MUTUAL (a in top5(b) and b in top5(a)).
    // Low reciprocity = hub-dominated neighborhoods (the graph-shape
    // companion to emb_hubness). Everything is exact set algebra on
    // the 1000-edge digest. 100 TB: the bounded corpus caps the
    // all-pairs scan by design; the full-corpus path is the ANN
    // family.
    QueryDef("emb_knn_reciprocity",
      (s, d) => {
        val emb = graft.sources.Tables.load(s, d, "embeddings")
          .filter(col("vec_id") < 200)
        val top = graft.ext.Similarity.bruteForceTopK(emb, emb, 5)
          .select(col("query_id").as("a"), col("neighbor_id").as("b"))
        val mutual = top.alias("x").join(top.alias("y"),
          col("x.a") === col("y.b") && col("x.b") === col("y.a"))
          .select(col("x.a"), col("x.b"))
        top.agg(countDistinct(col("a")).as("n_nodes"),
            count(lit(1)).as("n_edges"))
          .crossJoin(broadcast(mutual.agg(count(lit(1))
            .as("n_mutual"))))
          .select(col("n_nodes"), col("n_edges"), col("n_mutual"),
            expr("n_mutual * 1000000 div n_edges")
              .as("reciprocity_ppm"))
      },
      Some("""WITH t AS (SELECT vec_id, embedding::DOUBLE[] AS v
             |  FROM embeddings WHERE vec_id < 200),
             |bf AS (SELECT query_id AS a, neighbor_id AS b FROM (
             |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
             |    row_number() OVER (PARTITION BY q.vec_id
             |      ORDER BY list_cosine_similarity(q.v, c.v) DESC,
             |        c.vec_id) AS rank
             |  FROM t q, t c WHERE c.vec_id != q.vec_id)
             |  WHERE rank <= 5),
             |m AS (SELECT count(*)::BIGINT AS n_mutual
             |  FROM bf x JOIN bf y ON x.a = y.b AND x.b = y.a)
             |SELECT count(DISTINCT a)::BIGINT AS n_nodes,
             |  count(*)::BIGINT AS n_edges, max(n_mutual) AS n_mutual,
             |  (max(n_mutual) * 1000000 // count(*))::BIGINT
             |    AS reciprocity_ppm
             |FROM bf, m""".stripMargin)),

    // Breslow–Day homogeneity test (Breslow & Day 1980): do the
    // per-day odds ratios of the q_cmh_test 2×2 (exposure =
    // props.k < 50, outcome = purchase-vs-view) share ONE common
    // value, or does the association itself drift day to day? CMH
    // assumes homogeneity; this is the test that licenses it. The
    // Mantel–Haenszel common OR uses 9-dp-quantized per-stratum
    // ratio terms; each stratum's expected cell solves the standard
    // quadratic under that OR (shared double spelling, the ψ≈1
    // linear branch mirrored identically), and the χ² terms are
    // 9-dp-quantized before the cross-stratum sum. One shuffle to
    // the ≤366-row day digest.
    QueryDef("q_breslow_day",
      (s, d) => {
        val k = from_json(col("props"),
          org.apache.spark.sql.types.StructType.fromDDL("k BIGINT"))
          .getField("k")
        val f = graft.sources.Tables.events(s, d)
          .filter(col("event_type").isin("purchase", "view"))
          .select(to_date(col("ts")).as("day"),
            when(k < 50, 1L).otherwise(0L).as("expo"),
            when(col("event_type") === "purchase", 1L).otherwise(0L)
              .as("outc"))
        val st = f.groupBy(col("day"))
          .agg(sum(col("expo") * col("outc")).as("a"),
            sum(col("outc")).as("n1"), sum(col("expo")).as("m1"),
            count(lit(1)).as("nt"))
          // every cell of the 2x2 must be positive for the OR terms
          .filter(col("a") > 0 && col("n1") > col("a") &&
            col("m1") > col("a") &&
            col("nt") - col("n1") - col("m1") + col("a") > 0)
        val psi = broadcast(st.agg(
            sum(expr("cast(round(cast(a as double)" +
              " * (nt - n1 - m1 + a) / nt, 9) as decimal(20,9))"))
              .as("sad"),
            sum(expr("cast(round(cast(n1 - a as double)" +
              " * (m1 - a) / nt, 9) as decimal(20,9))")).as("sbc"))
          .select(expr("cast(sad as double) / cast(sbc as double)")
            .as("psi")))
        val terms = st.crossJoin(psi)
          .withColumn("bq", expr(
            """cast(nt - n1 - m1 as double)
              |+ psi * (cast(n1 as double) + m1)""".stripMargin))
          .withColumn("cq", expr(
            "-psi * cast(n1 as double) * m1"))
          .withColumn("disc", expr(
            "sqrt(bq * bq - 4.0e0 * (1.0e0 - psi) * cq)"))
          .withColumn("r1", expr(
            "(-bq + disc) / (2.0e0 * (1.0e0 - psi))"))
          .withColumn("r2", expr(
            "(-bq - disc) / (2.0e0 * (1.0e0 - psi))"))
          .withColumn("lo", expr(
            "greatest(0.0e0, cast(n1 + m1 - nt as double))"))
          .withColumn("hi", expr(
            "least(cast(n1 as double), cast(m1 as double))"))
          .withColumn("ea", expr(
            """CASE WHEN abs(1.0e0 - psi) < 1.0e-12
              |  THEN cast(n1 as double) * m1 / nt
              |  WHEN r1 >= lo AND r1 <= hi THEN r1
              |  ELSE r2 END""".stripMargin))
          .withColumn("va", expr(
            """1.0e0 / (1.0e0 / ea + 1.0e0 / (n1 - ea)
              |  + 1.0e0 / (m1 - ea)
              |  + 1.0e0 / (nt - n1 - m1 + ea))""".stripMargin))
          .select(col("psi"),
            expr("cast(round((a - ea) * (a - ea) / va, 9)" +
              " as decimal(20,9))").as("term"))
        // GLOBAL agg (not groupBy(psi)): with zero qualifying strata
        // the oracle's final aggregate still emits one row
        // (n_strata = 0, NULLs) — a groupBy would emit zero rows and
        // diverge on shape in exactly that degenerate case.
        terms
          .agg(count(lit(1)).as("n_strata"),
            round(max(col("psi")), 6).as("psi_mh"),
            round(sum(col("term")).cast("double"), 4).as("bd_chi2"))
          .select(col("n_strata"), col("psi_mh"), col("bd_chi2"))
      },
      Some("""WITH f AS (SELECT ts::DATE AS day,
             |    CASE WHEN CAST(json_extract(props, '$.k') AS BIGINT)
             |      < 50 THEN 1 ELSE 0 END AS expo,
             |    CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END
             |      AS outc
             |  FROM events WHERE event_type IN ('purchase', 'view')),
             |st AS (SELECT day, sum(expo * outc)::BIGINT AS a,
             |    sum(outc)::BIGINT AS n1, sum(expo)::BIGINT AS m1,
             |    count(*)::BIGINT AS nt
             |  FROM f GROUP BY 1
             |  HAVING sum(expo * outc) > 0
             |    AND sum(outc) > sum(expo * outc)
             |    AND sum(expo) > sum(expo * outc)
             |    AND count(*) - sum(outc) - sum(expo)
             |      + sum(expo * outc) > 0),
             |psi AS (SELECT
             |    sum(round(a::DOUBLE * (nt - n1 - m1 + a) / nt, 9)
             |      ::DECIMAL(20,9))::DOUBLE
             |    / sum(round((n1 - a)::DOUBLE * (m1 - a) / nt, 9)
             |      ::DECIMAL(20,9))::DOUBLE AS psi
             |  FROM st),
             |q AS (SELECT a, n1, m1, nt, psi,
             |    (nt - n1 - m1)::DOUBLE
             |      + psi * (n1::DOUBLE + m1) AS bq,
             |    -psi * n1::DOUBLE * m1 AS cq
             |  FROM st, psi),
             |r AS (SELECT *,
             |    sqrt(bq * bq - 4.0e0 * (1.0e0 - psi) * cq) AS disc,
             |    greatest(0.0e0, (n1 + m1 - nt)::DOUBLE) AS lo,
             |    least(n1::DOUBLE, m1::DOUBLE) AS hi
             |  FROM q),
             |e AS (SELECT a, n1, m1, nt, psi,
             |    CASE WHEN abs(1.0e0 - psi) < 1.0e-12
             |      THEN n1::DOUBLE * m1 / nt
             |      WHEN (-bq + disc) / (2.0e0 * (1.0e0 - psi)) >= lo
             |       AND (-bq + disc) / (2.0e0 * (1.0e0 - psi)) <= hi
             |      THEN (-bq + disc) / (2.0e0 * (1.0e0 - psi))
             |      ELSE (-bq - disc) / (2.0e0 * (1.0e0 - psi))
             |      END AS ea
             |  FROM r),
             |t AS (SELECT psi,
             |    round((a - ea) * (a - ea)
             |      / (1.0e0 / (1.0e0 / ea + 1.0e0 / (n1 - ea)
             |         + 1.0e0 / (m1 - ea)
             |         + 1.0e0 / (nt - n1 - m1 + ea))), 9)
             |      ::DECIMAL(20,9) AS term
             |  FROM e)
             |SELECT count(*)::BIGINT AS n_strata,
             |  round(max(psi), 6) AS psi_mh,
             |  round(sum(term)::DOUBLE, 4) AS bd_chi2
             |FROM t""".stripMargin)),

    // Cochran–Armitage trend test (Cochran 1954; Armitage 1955):
    // does the purchase PROPORTION trend monotonically across the
    // ordered hour-of-day groups (scores x = 0..23)? The z statistic
    // is assembled ENTIRELY from exact integer moments —
    // z = (N·Σxk − K·Σxn) / sqrt(K(N−K)(N·Σnx² − (Σnx)²)/N) with
    // every product in DECIMAL(38,0) — so the only doubles are the
    // final division and sqrt. The proportions companion to
    // q_cuzick_trend's rank test. 100 TB: one fact pass → 24-row
    // digest.
    QueryDef("q_cochran_armitage",
      (s, d) => {
        val g = graft.sources.Tables.events(s, d)
          .groupBy(hour(col("ts")).cast("long").as("x"))
          .agg(count(lit(1)).as("n"),
            sum((col("event_type") === "purchase").cast("long"))
              .as("k"))
        g.agg(sum(col("n")).as("nn"), sum(col("k")).as("kk"),
            sum(col("x") * col("n")).as("sxn"),
            sum(col("x") * col("k")).as("sxk"),
            sum(col("x") * col("x") * col("n")).as("sxxn"))
          .select(col("nn").as("n_events"), col("kk").as("n_pos"),
            round(expr(
              """cast(cast(nn as decimal(38,0)) * sxk
                |  - cast(kk as decimal(38,0)) * sxn as double)
                |/ nullif(sqrt(cast(
                |    cast(kk as decimal(38,0)) * (nn - kk)
                |    * (cast(nn as decimal(38,0)) * sxxn
                |       - cast(sxn as decimal(38,0)) * sxn)
                |  as double) / nn), 0.0e0)""".stripMargin), 4)
              .as("z_trend"))
      },
      Some("""WITH g AS (SELECT hour(ts)::BIGINT AS x,
             |    count(*)::BIGINT AS n,
             |    sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0
             |      END)::BIGINT AS k
             |  FROM events GROUP BY 1),
             |m AS (SELECT sum(n)::BIGINT AS nn, sum(k)::BIGINT AS kk,
             |    sum(x * n)::BIGINT AS sxn, sum(x * k)::BIGINT AS sxk,
             |    sum(x * x * n)::BIGINT AS sxxn
             |  FROM g)
             |SELECT nn AS n_events, kk AS n_pos,
             |  round((nn::HUGEINT * sxk - kk::HUGEINT * sxn)::DOUBLE
             |    / nullif(sqrt((kk::HUGEINT * (nn - kk)
             |        * (nn::HUGEINT * sxxn - sxn::HUGEINT * sxn))
             |        ::DOUBLE / nn), 0.0e0), 4) AS z_trend
             |FROM m""".stripMargin))
  )
}
