package graft.queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Round-12 extension wave: classical decision/risk/association
  * kernels over the same calendar/value digests — exact-test
  * inference (Fisher's exact 2×2 via the quantized log-lattice,
  * Conover squared-ranks scale test on the midrank digest), tail-risk
  * readouts (historical VaR / expected shortfall on exact integer
  * cents), concentration (Herfindahl–Hirschman over brand revenue),
  * and small-sample outlier screens (Dixon's Q).
  *
  * Reference scope: the reference app (reference `app.py:139-200`)
  * publishes descriptive statistics over sensor channels; these are
  * the decision-grade tests a fleet report runs over the same
  * digests. Determinism discipline: facts collapse in ONE map-side
  * pass; integers/DECIMAL until the last projection; transcendentals
  * quantized (ln→12 dp, exp→15 dp) before any cross-row sum; finals
  * round(…,4..6).
  */
object R14Queries {

  val defs: Seq[QueryDef] = Seq(

    // Fisher's exact test (Fisher 1935) on the weekend × purchase
    // 2×2 table — the small-cell-safe independence test next to
    // q_chisq_independence. The hypergeometric pmf is walked over the
    // FULL support by the ratio recurrence P(a+1)/P(a) =
    // (m1−a)(n1−a)/((a+1)(m2−n1+a+1)): each log-ratio is an ln of a
    // ratio of exact ≤2^53 integers quantized to 12 dp, the log-pmf
    // is an exact DECIMAL prefix sum, and the two-sided p (method of
    // small p-values) compares those exact decimals — the only
    // doubles are the final exp (15 dp-quantized, max-shifted so
    // nothing overflows) and the rounded outputs. 100 TB: one
    // fact-sized aggregate to 4 cells (an O(1) digest collected to
    // the driver — the support bounds are data-dependent, so the
    // walk is `s.range(lo, hi+1)`: exact at ANY support size, never
    // silently truncated); the prefix sum runs the packBins two-phase
    // discipline (in-bucket windows parallel across 64Ki-wide
    // buckets + a digest-sized cross-bucket carry), so no
    // single-partition window touches the support series either.
    QueryDef("q_fisher_exact",
      (s, d) => {
        val t = graft.sources.Tables.events(s, d).select(
          when(dayofweek(col("ts")).isin(1, 7), 1L).otherwise(0L).as("w"),
          when(col("event_type") === "purchase", 1L).otherwise(0L).as("p"))
        val cr = t.agg(
          sum(col("w") * col("p")).as("a"),
          sum(col("w") * (lit(1L) - col("p"))).as("b"),
          sum((lit(1L) - col("w")) * col("p")).as("c"),
          sum((lit(1L) - col("w")) * (lit(1L) - col("p")))
            .as("d")).head()
        val (av, bv, cv, dv) = (cr.getLong(0), cr.getLong(1),
          cr.getLong(2), cr.getLong(3))
        val (m1, m2, n1) = (av + bv, cv + dv, av + cv)
        val lo = math.max(0L, n1 - m2)
        val hi = math.min(n1, m1)
        val decZero12 = lit(BigDecimal(0)).cast("decimal(38,12)")
        val base = s.range(lo, hi + 1).select(col("id").as("aa"))
          .withColumn("lnr", when(col("aa") === lit(lo), decZero12)
            .otherwise(round(log(
              ((lit(m1) - col("aa") + 1) * (lit(n1) - col("aa") + 1))
                .cast("double") /
              (col("aa") * (lit(m2) - lit(n1) + col("aa")))
                .cast("double")), 12).cast("decimal(38,12)")))
          .withColumn("__bk", expr(s"(aa - ${lo}L) div 65536L"))
        val wIn = Window.partitionBy(col("__bk")).orderBy(col("aa"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        val wC = Window.orderBy(col("__bk"))
          .rowsBetween(Window.unboundedPreceding, -1)
        val carry = base.groupBy(col("__bk"))
          .agg(sum(col("lnr")).as("__s"))
          .withColumn("__c", coalesce(sum(col("__s")).over(wC), decZero12))
          .select(col("__bk"), col("__c"))
        val ser = base.join(broadcast(carry), Seq("__bk"))
          .withColumn("lnw", (col("__c") + sum(col("lnr")).over(wIn))
            .cast("decimal(38,12)"))
        val mx = broadcast(ser.agg(max(col("lnw")).as("wmax"),
          max(when(col("aa") === lit(av), col("lnw"))).as("lnobs")))
        ser.crossJoin(mx)
          .withColumn("wgt", round(exp((col("lnw") - col("wmax"))
            .cast("double")), 15).cast("decimal(20,15)"))
          .agg(sum(col("wgt")).as("tot"),
            sum(when(col("lnw") <= col("lnobs"), col("wgt"))
              .otherwise(lit(BigDecimal(0)).cast("decimal(20,15)")))
              .as("le"))
          .select(lit(av).as("a"), lit(bv).as("b"), lit(cv).as("c"),
            lit(dv).as("d"),
            round((lit(av) * lit(dv)).cast("double") /
              nullif((lit(bv) * lit(cv)).cast("double"), lit(0.0)), 6)
              .as("odds_ratio"),
            round(col("le").cast("double") / col("tot").cast("double"), 6)
              .as("p_two_sided"))
      },
      Some("""WITH t AS (SELECT
             |    (CASE WHEN dayofweek(ts) IN (0, 6) THEN 1 ELSE 0 END)
             |      ::BIGINT AS w,
             |    (CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
             |      ::BIGINT AS p
             |  FROM events),
             |cells AS (SELECT sum(w * p)::BIGINT AS a,
             |    sum(w * (1 - p))::BIGINT AS b,
             |    sum((1 - w) * p)::BIGINT AS c,
             |    sum((1 - w) * (1 - p))::BIGINT AS d
             |  FROM t),
             |par AS (SELECT a, b, c, d, a + b AS m1, c + d AS m2,
             |    a + c AS n1,
             |    greatest(0, a + c - (c + d)) AS lo,
             |    least(a + c, a + b) AS hi
             |  FROM cells),
             |ser AS (SELECT unnest(generate_series(lo, hi)) AS aa,
             |    a, b, c, d, m1, m2, n1, lo
             |  FROM par),
             |lr AS (SELECT *, CASE WHEN aa = lo THEN 0::DECIMAL(38,12)
             |    ELSE round(ln(((m1 - aa + 1) * (n1 - aa + 1))::DOUBLE
             |      / ((aa) * (m2 - n1 + aa))::DOUBLE), 12)
             |      ::DECIMAL(38,12) END AS lnr
             |  FROM ser),
             |cum AS (SELECT *, sum(lnr) OVER (ORDER BY aa
             |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
             |    AS lnw FROM lr),
             |mx AS (SELECT max(lnw) AS wmax,
             |    max(CASE WHEN aa = a THEN lnw END) AS lnobs FROM cum),
             |wts AS (SELECT cum.*, mx.lnobs,
             |    round(exp((lnw - wmax)::DOUBLE), 15)::DECIMAL(20,15)
             |      AS wgt
             |  FROM cum, mx)
             |SELECT a, b, c, d,
             |  round((a * d)::DOUBLE / nullif((b * c), 0)::DOUBLE, 6)
             |    AS odds_ratio,
             |  round(sum(CASE WHEN lnw <= lnobs THEN wgt
             |      ELSE 0::DECIMAL(20,15) END)::DOUBLE
             |    / sum(wgt)::DOUBLE, 6) AS p_two_sided
             |FROM wts GROUP BY a, b, c, d""".stripMargin)),

    // Historical value-at-risk and expected shortfall (RiskMetrics
    // 1996; Artzner et al. 1999 for ES coherence) of day-over-day
    // revenue changes. Changes are EXACT integer cents (decimal sums
    // ×100, lag over the calendar digest); VaR_q is the ceil(q·n)-th
    // smallest change — an order statistic, published in cents so the
    // gate compares integers — and ES_q is the exact average of the
    // tail below it (sum of identical-valued boundary ties is
    // order-invariant). 100 TB: one groupBy(day), then the ≤366-row
    // digest carries everything.
    QueryDef("q_value_at_risk",
      (s, d) => {
        val daily = graft.sources.Tables.events(s, d)
          .groupBy(to_date(col("ts")).as("day"))
          .agg((sum(col("value").cast("decimal(18,2)")) * lit(100))
            .cast("long").as("y"))
        val diff = daily
          .withColumn("prev", lag(col("y"), 1).over(
            Window.orderBy(col("day"))))
          .filter(col("prev").isNotNull)
          .select((col("y") - col("prev")).as("chg"))
          .withColumn("rn", row_number().over(Window.orderBy(col("chg"))))
        val n = broadcast(diff.agg(count(lit(1)).as("n")))
        diff.crossJoin(n)
          .withColumn("k95", expr("(n * 5 + 99) div 100"))
          .withColumn("k99", expr("(n * 1 + 99) div 100"))
          .agg(max(col("n")).as("n_changes"),
            max(when(col("rn") === col("k95"), col("chg")))
              .as("var95_cents"),
            max(when(col("rn") === col("k99"), col("chg")))
              .as("var99_cents"),
            round((sum(when(col("rn") <= col("k95"), col("chg")))
              .cast("double") / max(col("k95")).cast("double")) / 100.0, 4)
              .as("es95"),
            round((sum(when(col("rn") <= col("k99"), col("chg")))
              .cast("double") / max(col("k99")).cast("double")) / 100.0, 4)
              .as("es99"))
      },
      Some("""WITH daily AS (SELECT ts::DATE AS day,
             |    (sum(CAST(value AS DECIMAL(18,2))) * 100)::BIGINT AS y
             |  FROM events GROUP BY 1),
             |chg AS (SELECT y - lag(y) OVER (ORDER BY day) AS chg
             |  FROM daily),
             |rk AS (SELECT chg,
             |    row_number() OVER (ORDER BY chg) AS rn
             |  FROM chg WHERE chg IS NOT NULL),
             |n AS (SELECT count(*)::BIGINT AS n FROM rk),
             |k AS (SELECT n, (n * 5 + 99) // 100 AS k95,
             |    (n * 1 + 99) // 100 AS k99 FROM n)
             |SELECT max(n)::BIGINT AS n_changes,
             |  max(CASE WHEN rn = k95 THEN chg END)::BIGINT
             |    AS var95_cents,
             |  max(CASE WHEN rn = k99 THEN chg END)::BIGINT
             |    AS var99_cents,
             |  round(sum(CASE WHEN rn <= k95 THEN chg END)::DOUBLE
             |    / max(k95)::DOUBLE / 100.0, 4) AS es95,
             |  round(sum(CASE WHEN rn <= k99 THEN chg END)::DOUBLE
             |    / max(k99)::DOUBLE / 100.0, 4) AS es99
             |FROM rk, k""".stripMargin)),

    // Herfindahl–Hirschman concentration index (Herfindahl 1950) of
    // brand revenue — the antitrust/market-structure readout next to
    // q_pareto_concentration and q_gini_coefficient. Brand revenues
    // are exact cents; HHI = Σc²/T² with the squares as exact
    // DECIMAL(38,0) (the HUGEINT-widening class is handled by casting
    // BOTH engines' sums to double only in the final projection), the
    // top share as integer ppm, and the normalized index (HHI−1/k)/
    // (1−1/k) guarded for k=1. One brand-sized digest shuffle.
    QueryDef("q_herfindahl",
      (s, d) => {
        val rev = graft.sources.Tables.load(s, d, "lineitem")
          .join(graft.sources.Tables.load(s, d, "part")
            .select(col("p_partkey"), col("p_brand")),
            col("l_partkey") === col("p_partkey"))
          .groupBy(col("p_brand"))
          .agg((sum(col("l_extendedprice").cast("decimal(18,2)"))
            * lit(100)).cast("long").as("c"))
        rev.agg(count(lit(1)).as("k_brands"),
            sum(col("c")).as("t"),
            sum(col("c").cast("decimal(38,0)") * col("c")).as("ss"),
            max(col("c")).as("cmax"))
          .select(col("k_brands"),
            round(expr("cast(ss as double)" +
              " / (cast(t as double) * cast(t as double))"), 9)
              .as("hhi"),
            round(expr(
              """CASE WHEN k_brands <= 1 THEN NULL
                |ELSE (cast(ss as double)
                |    / (cast(t as double) * cast(t as double))
                |  - 1.0 / cast(k_brands as double))
                |  / (1.0 - 1.0 / cast(k_brands as double)) END"""
                .stripMargin), 6).as("hhi_norm"),
            expr("cmax * 1000000 div t").as("top_share_ppm"))
      },
      Some("""WITH rev AS (SELECT p_brand,
             |    (sum(CAST(l_extendedprice AS DECIMAL(18,2))) * 100)
             |      ::BIGINT AS c
             |  FROM lineitem JOIN part ON l_partkey = p_partkey
             |  GROUP BY 1),
             |a AS (SELECT count(*)::BIGINT AS k_brands,
             |    sum(c)::BIGINT AS t, sum(c::HUGEINT * c) AS ss,
             |    max(c)::BIGINT AS cmax
             |  FROM rev)
             |SELECT k_brands,
             |  round(ss::DOUBLE / (t::DOUBLE * t::DOUBLE), 9) AS hhi,
             |  round(CASE WHEN k_brands <= 1 THEN NULL
             |    ELSE (ss::DOUBLE / (t::DOUBLE * t::DOUBLE)
             |        - 1.0 / k_brands::DOUBLE)
             |      / (1.0 - 1.0 / k_brands::DOUBLE) END, 6) AS hhi_norm,
             |  (cmax * 1000000 // t)::BIGINT AS top_share_ppm
             |FROM a""".stripMargin)),

    // Dixon's Q screen (Dixon 1950) at both extremes of the daily
    // revenue digest: Q_low = (y₂−y₁)/(yₙ−y₁), Q_high =
    // (yₙ−yₙ₋₁)/(yₙ−y₁) — the small-sample single-outlier ratio next
    // to the iterative q_gesd_outliers. Gaps and range are exact
    // integer cents; the flagged days tie to the earliest date
    // (row_number over (y, day)); zero range → NULL (ANSI ÷0 guard).
    QueryDef("q_dixon_q",
      (s, d) => {
        val daily = graft.sources.Tables.events(s, d)
          .groupBy(to_date(col("ts")).as("day"))
          .agg((sum(col("value").cast("decimal(18,2)")) * lit(100))
            .cast("long").as("y"))
          .withColumn("ra", row_number().over(
            Window.orderBy(col("y"), col("day"))))
          .withColumn("rd", row_number().over(
            Window.orderBy(col("y").desc, col("day"))))
        daily.agg(count(lit(1)).as("n_days"),
            max(when(col("ra") === 1, col("day").cast("string")))
              .as("low_day"),
            max(when(col("ra") === 1, col("y"))).as("y1"),
            max(when(col("ra") === 2, col("y"))).as("y2"),
            max(when(col("rd") === 1, col("day").cast("string")))
              .as("high_day"),
            max(when(col("rd") === 1, col("y"))).as("yn"),
            max(when(col("rd") === 2, col("y"))).as("yn1"))
          .select(col("n_days"), col("low_day"),
            round((col("y2") - col("y1")).cast("double") /
              nullif((col("yn") - col("y1")).cast("double"), lit(0.0)), 6)
              .as("q_low"),
            col("high_day"),
            round((col("yn") - col("yn1")).cast("double") /
              nullif((col("yn") - col("y1")).cast("double"), lit(0.0)), 6)
              .as("q_high"))
      },
      Some("""WITH daily AS (SELECT ts::DATE AS day,
             |    (sum(CAST(value AS DECIMAL(18,2))) * 100)::BIGINT AS y
             |  FROM events GROUP BY 1),
             |rk AS (SELECT day, y,
             |    row_number() OVER (ORDER BY y, day) AS ra,
             |    row_number() OVER (ORDER BY y DESC, day) AS rd
             |  FROM daily),
             |a AS (SELECT count(*)::BIGINT AS n_days,
             |    max(CASE WHEN ra = 1 THEN day::VARCHAR END) AS low_day,
             |    max(CASE WHEN ra = 1 THEN y END)::BIGINT AS y1,
             |    max(CASE WHEN ra = 2 THEN y END)::BIGINT AS y2,
             |    max(CASE WHEN rd = 1 THEN day::VARCHAR END) AS high_day,
             |    max(CASE WHEN rd = 1 THEN y END)::BIGINT AS yn,
             |    max(CASE WHEN rd = 2 THEN y END)::BIGINT AS yn1
             |  FROM rk)
             |SELECT n_days, low_day,
             |  round((y2 - y1)::DOUBLE
             |    / nullif((yn - y1), 0)::DOUBLE, 6) AS q_low,
             |  high_day,
             |  round((yn - yn1)::DOUBLE
             |    / nullif((yn - y1), 0)::DOUBLE, 6) AS q_high
             |FROM a""".stripMargin)),

    // Conover squared-ranks test for scale homogeneity (Conover 1999
    // §5.3) across event types — the rank-based variance test that
    // needs no normality, next to the parametric q_bartlett_test and
    // q_levene_test. Deviations are |x − group LOWER MEDIAN| on the
    // 1e-3 integer grid (medians from the per-type value-CELL digest,
    // so the deviation is an exact integer); global midranks ride the
    // z-marginal digest ×2 (integer midranks); every group statistic
    // is an exact DECIMAL sum, and the only divisions happen in the
    // final double projection with identical spelling on both
    // engines (the Sr²/n_j terms are 6 dp-quantized before the
    // cross-group sum, the repo rule for per-group rationals).
    // 100 TB: two fact-sized digest shuffles, everything else rides
    // the ≤|value-grid| cells.
    QueryDef("q_conover_squared_ranks",
      (s, d) => {
        val f = graft.sources.Tables.events(s, d)
          .select(col("event_type").as("g"),
            floor(col("value") * 1000).cast("long").as("x"))
        val cellGX = f.groupBy(col("g"), col("x"))
          .agg(count(lit(1)).as("cnt"))
        val med = cellGX
          .withColumn("cum", sum(col("cnt")).over(
            Window.partitionBy(col("g")).orderBy(col("x"))
              .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
          .withColumn("ng", sum(col("cnt")).over(
            Window.partitionBy(col("g"))))
          .filter(col("cum") * 2 >= col("ng") + 1)
          .groupBy(col("g")).agg(min(col("x")).as("med"))
        val cellGZ = cellGX.join(broadcast(med), Seq("g"))
          .select(col("g"), abs(col("x") - col("med")).as("z"),
            col("cnt"))
          .groupBy(col("g"), col("z")).agg(sum(col("cnt")).as("cnt"))
        val zmarg = cellGZ.groupBy(col("z"))
          .agg(sum(col("cnt")).as("zc"))
          .withColumn("cumb", coalesce(sum(col("zc")).over(
            Window.orderBy(col("z"))
              .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
          .select(col("z"),
            (col("cumb") * 2 + col("zc") + 1).as("r2"))
        val grp = cellGZ.join(zmarg, Seq("z"))
          .groupBy(col("g"))
          .agg(sum(col("cnt")).as("nj"),
            sum(col("cnt").cast("decimal(38,0)") * col("r2") * col("r2"))
              .as("sr2"),
            sum(col("cnt").cast("decimal(38,0)") * col("r2") * col("r2")
              * col("r2") * col("r2")).as("r4"))
          .withColumn("qj", round(expr(
            "cast(sr2 as double) * cast(sr2 as double)" +
              " / cast(nj as double)"), 6).cast("decimal(38,6)"))
        grp.agg(count(lit(1)).as("k_groups"),
            sum(col("nj")).as("n"),
            sum(col("sr2")).as("tot"),
            sum(col("qj")).as("q"),
            sum(col("r4")).as("rr4"))
          .select(col("k_groups"), col("n"),
            (col("k_groups") - 1).as("df"),
            round(expr(
              """(cast(n as double) - 1.0)
                |* (cast(n as double) * cast(q as double)
                |   - cast(tot as double) * cast(tot as double))
                |/ (cast(n as double) * cast(rr4 as double)
                |   - cast(tot as double) * cast(tot as double))"""
                .stripMargin), 6).as("t_stat"))
      },
      Some("""WITH f AS (SELECT event_type AS g,
             |    floor(value * 1000)::BIGINT AS x FROM events),
             |cgx AS (SELECT g, x, count(*)::BIGINT AS cnt
             |  FROM f GROUP BY 1, 2),
             |med AS (SELECT g, min(x)::BIGINT AS med FROM (
             |  SELECT g, x, cnt,
             |    sum(cnt) OVER (PARTITION BY g ORDER BY x
             |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
             |      AS cum,
             |    sum(cnt) OVER (PARTITION BY g) AS ng
             |  FROM cgx) WHERE cum * 2 >= ng + 1 GROUP BY 1),
             |cgz AS (SELECT cgx.g, abs(x - med)::BIGINT AS z,
             |    sum(cnt)::BIGINT AS cnt
             |  FROM cgx JOIN med ON cgx.g = med.g GROUP BY 1, 2),
             |zm AS (SELECT z,
             |    (2 * coalesce(sum(zc) OVER (ORDER BY z
             |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
             |      0) + zc + 1)::BIGINT AS r2
             |  FROM (SELECT z, sum(cnt)::BIGINT AS zc FROM cgz
             |    GROUP BY 1)),
             |grp AS (SELECT g, sum(cnt)::BIGINT AS nj,
             |    sum(cnt::HUGEINT * r2 * r2) AS sr2,
             |    sum(cnt::HUGEINT * r2 * r2 * r2 * r2) AS r4
             |  FROM cgz JOIN zm ON cgz.z = zm.z GROUP BY 1),
             |gq AS (SELECT g, nj, sr2, r4,
             |    round(sr2::DOUBLE * sr2::DOUBLE / nj::DOUBLE, 6)
             |      ::DECIMAL(38,6) AS qj
             |  FROM grp),
             |a AS (SELECT count(*)::BIGINT AS k_groups,
             |    sum(nj)::BIGINT AS n, sum(sr2) AS tot, sum(qj) AS q,
             |    sum(r4) AS rr4
             |  FROM gq)
             |SELECT k_groups, n, (k_groups - 1)::BIGINT AS df,
             |  round((n::DOUBLE - 1.0)
             |    * (n::DOUBLE * q::DOUBLE - tot::DOUBLE * tot::DOUBLE)
             |    / (n::DOUBLE * rr4::DOUBLE
             |       - tot::DOUBLE * tot::DOUBLE), 6) AS t_stat
             |FROM a""".stripMargin)),

    // One-sample Kolmogorov–Smirnov test of hour-of-day UNIFORMITY
    // (the discrete/lattice variant evaluated at the 24 cell
    // boundaries) — "is traffic flat around the clock?" next to the
    // two-sample q_ks_test. The max deviation is decided on the EXACT
    // integer |24·cum − (h+1)·N| (no float ordering); missing hours
    // are real zeros via the generated 0..23 spine; ties break to the
    // earliest hour. One fact-sized groupBy; the spine is 24 rows.
    QueryDef("q_ks_uniform",
      (s, d) => {
        val hc = graft.sources.Tables.events(s, d)
          .groupBy(hour(col("ts")).as("h"))
          .agg(count(lit(1)).as("c"))
        val spine = s.range(0, 24).select(col("id").as("h"))
          .join(hc, Seq("h"), "left")
          .select(col("h"), coalesce(col("c"), lit(0L)).as("c"))
          .withColumn("cum", sum(col("c")).over(Window.orderBy(col("h"))
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        val n = broadcast(spine.agg(max(col("cum")).as("n")))
        spine.crossJoin(n)
          .withColumn("m", abs(col("cum") * 24 - (col("h") + 1) * col("n")))
          .withColumn("rk", row_number().over(
            Window.orderBy(col("m").desc, col("h"))))
          .filter(col("rk") === 1)
          .select(col("n").as("n_events"),
            col("h").as("at_hour"),
            round(col("m").cast("double") /
              (col("n").cast("double") * 24.0), 6).as("d_stat"),
            round(sqrt(col("n").cast("double")) * col("m").cast("double") /
              (col("n").cast("double") * 24.0), 4).as("sqrt_n_d"))
      },
      Some("""WITH hc AS (SELECT hour(ts)::BIGINT AS h,
             |    count(*)::BIGINT AS c FROM events GROUP BY 1),
             |sp AS (SELECT r.h, coalesce(hc.c, 0)::BIGINT AS c
             |  FROM (SELECT unnest(generate_series(0, 23))::BIGINT AS h) r
             |  LEFT JOIN hc ON hc.h = r.h),
             |cum AS (SELECT h, sum(c) OVER (ORDER BY h
             |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
             |    ::BIGINT AS cum FROM sp),
             |n AS (SELECT max(cum)::BIGINT AS n FROM cum),
             |m AS (SELECT h, abs(cum * 24 - (h + 1) * n)::BIGINT AS m, n,
             |    row_number() OVER (
             |      ORDER BY abs(cum * 24 - (h + 1) * n) DESC, h) AS rk
             |  FROM cum, n)
             |SELECT n AS n_events, h AS at_hour,
             |  round(m::DOUBLE / (n::DOUBLE * 24.0), 6) AS d_stat,
             |  round(sqrt(n::DOUBLE) * m::DOUBLE / (n::DOUBLE * 24.0), 4)
             |    AS sqrt_n_d
             |FROM m WHERE rk = 1""".stripMargin)),

    // The M-competition benchmark panel (Hyndman & Athanasopoulos,
    // FPP §5.2): naive, seasonal-naive(7), drift and mean forecasts
    // over a 7-day holdout, scored by MAE and RMSE — the baselines
    // every fancier forecaster (q_holt_winters_dow, q_mase_panel)
    // must beat. Daily revenues are exact cents; naive/snaive
    // forecasts are integers, drift/mean are 6 dp-quantized doubles;
    // each error is quantized ONCE to 6 dp and summed as exact
    // DECIMAL, so the panel is order-independent. Digest-sized work
    // after one groupBy(day).
    QueryDef("q_forecast_baselines",
      (s, d) => {
        val daily = graft.sources.Tables.events(s, d)
          .groupBy(to_date(col("ts")).as("day"))
          .agg((sum(col("value").cast("decimal(18,2)")) * lit(100))
            .cast("long").as("y"))
          .withColumn("t", row_number().over(Window.orderBy(col("day")))
            - 1)
        val tr = broadcast(daily
          .withColumn("nd", count(lit(1)).over(Window.partitionBy()))
          .filter(col("t") < col("nd") - 7)
          .agg(count(lit(1)).as("tn"),
            sum(col("y")).as("tsum"),
            max(when(col("t") === 0, col("y"))).as("y1"),
            max(col("t")).as("tmax")))
        val trLast = broadcast(daily.crossJoin(tr)
          .filter(col("t") === col("tmax"))
          .select(col("y").as("yt"), col("tn"), col("tsum"), col("y1")))
        val hold = daily.crossJoin(trLast)
          .filter(col("t") >= col("tn"))
          .withColumn("h", col("t") - col("tn") + 1)
        val snSrc = daily.select(col("t").as("st"), col("y").as("sy"))
        val withSn = hold.join(snSrc, col("st") === col("t") - 7)
        val models = withSn.select(col("h"), col("y"), col("yt"),
          col("sy"), col("tn"), col("tsum"), col("y1"))
          .withColumn("mdl", explode(array(
            struct(lit("naive").as("model"),
              round(col("yt").cast("double") / 100.0, 6).as("f")),
            struct(lit("snaive").as("model"),
              round(col("sy").cast("double") / 100.0, 6).as("f")),
            struct(lit("drift").as("model"),
              round(col("yt").cast("double") / 100.0 +
                col("h").cast("double") *
                  (col("yt") - col("y1")).cast("double") / 100.0 /
                  (col("tn").cast("double") - 1.0), 6).as("f")),
            struct(lit("mean").as("model"),
              round(col("tsum").cast("double") /
                (col("tn").cast("double") * 100.0), 6).as("f")))))
          .select(col("mdl.model").as("model"),
            round(abs(col("y").cast("double") / 100.0 - col("mdl.f")), 6)
              .cast("decimal(18,6)").as("ae"))
          .withColumn("se", (col("ae") * col("ae")).cast("decimal(38,12)"))
        models.groupBy(col("model"))
          .agg(count(lit(1)).as("n_holdout"),
            round(sum(col("ae")).cast("double") / 7.0, 4).as("mae"),
            round(sqrt(sum(col("se")).cast("double") / 7.0), 4).as("rmse"))
          .orderBy(col("model"))
      },
      Some("""WITH daily AS (SELECT ts::DATE AS day,
             |    (sum(CAST(value AS DECIMAL(18,2))) * 100)::BIGINT AS y
             |  FROM events GROUP BY 1),
             |idx AS (SELECT y,
             |    row_number() OVER (ORDER BY day) - 1 AS t FROM daily),
             |nd AS (SELECT count(*)::BIGINT AS nd FROM idx),
             |tr AS (SELECT count(*)::BIGINT AS tn, sum(y)::BIGINT AS tsum,
             |    max(CASE WHEN t = 0 THEN y END)::BIGINT AS y1,
             |    max(t)::BIGINT AS tmax
             |  FROM idx, nd WHERE t < nd - 7),
             |tl AS (SELECT y AS yt, tn, tsum, y1 FROM idx, tr
             |  WHERE t = tmax),
             |hold AS (SELECT i.t, i.y, i.t - tl.tn + 1 AS h, tl.yt,
             |    tl.tn, tl.tsum, tl.y1, sn.y AS sy
             |  FROM idx i, tl, idx sn
             |  WHERE sn.t = i.t - 7 AND i.t >= tl.tn),
             |m AS (
             |  SELECT 'naive' AS model, y,
             |    round(yt::DOUBLE / 100.0, 6) AS f FROM hold
             |  UNION ALL SELECT 'snaive', y,
             |    round(sy::DOUBLE / 100.0, 6) FROM hold
             |  UNION ALL SELECT 'drift', y,
             |    round(yt::DOUBLE / 100.0 + h::DOUBLE
             |      * (yt - y1)::DOUBLE / 100.0 / (tn::DOUBLE - 1.0), 6)
             |    FROM hold
             |  UNION ALL SELECT 'mean', y,
             |    round(tsum::DOUBLE / (tn::DOUBLE * 100.0), 6) FROM hold),
             |e AS (SELECT model,
             |    round(abs(y::DOUBLE / 100.0 - f), 6)::DECIMAL(18,6) AS ae
             |  FROM m),
             |e2 AS (SELECT model, ae,
             |    (ae::DECIMAL(19,6) * ae)::DECIMAL(38,12) AS se FROM e)
             |SELECT model, count(*)::BIGINT AS n_holdout,
             |  round(sum(ae)::DOUBLE / 7.0, 4) AS mae,
             |  round(sqrt(sum(se)::DOUBLE / 7.0), 4) AS rmse
             |FROM e2 GROUP BY model ORDER BY model""".stripMargin)),

    // Little's law audit (Little 1961): L = λW, with L measured TWO
    // independent ways — the exact presence integral (Σ per-user-day
    // dwell over the day span) and a minute-boundary SAMPLING of
    // concurrency (the way a dashboard would estimate it). λ·W equals
    // the integral IDENTICALLY (both reduce to Σdwell/span — that's
    // the law), so the published ratio sampled/integral isolates pure
    // sampling error. Mark counts per interval come from a CLOSED
    // FORM (floor/ceil arithmetic on the half-open [min,max) span),
    // so nothing explodes per-minute — one groupBy(user, day) digest
    // carries everything at any scale.
    QueryDef("q_little_law",
      (s, d) => {
        val ud = graft.sources.Tables.events(s, d)
          .groupBy(col("user_id"), to_date(col("ts")).as("day"))
          .agg(min(unix_micros(col("ts"))).as("mn"),
            max(unix_micros(col("ts"))).as("mx"))
          .withColumn("dwell", col("mx") - col("mn"))
          .withColumn("marks", greatest(lit(0L),
            expr("(mx - 1) div 60000000 - (mn + 59999999) div 60000000")
              + 1))
        ud.agg(count(lit(1)).as("n_user_days"),
            countDistinct(col("day")).as("n_days"),
            sum(col("dwell")).as("sd"),
            sum(col("marks")).as("sm"))
          .select(col("n_user_days"),
            round(col("n_user_days").cast("double") /
              (col("n_days").cast("double") * 24.0), 4)
              .as("lambda_per_hour"),
            round(col("sd").cast("double") /
              col("n_user_days").cast("double") / 1e6, 4)
              .as("w_mean_sec"),
            round(col("sd").cast("double") /
              (col("n_days").cast("double") * 86400.0 * 1e6), 6)
              .as("l_integral"),
            round(col("sm").cast("double") /
              (col("n_days").cast("double") * 1440.0), 6)
              .as("l_sampled"),
            round(col("sm").cast("double") * 86400.0 * 1e6 /
              nullif(col("sd").cast("double") * 1440.0, lit(0.0)), 6)
              .as("sampled_over_integral"))
      },
      Some("""WITH ud AS (SELECT user_id, ts::DATE AS day,
             |    min(epoch_us(ts))::BIGINT AS mn,
             |    max(epoch_us(ts))::BIGINT AS mx
             |  FROM events GROUP BY 1, 2),
             |m AS (SELECT mx - mn AS dwell,
             |    greatest(0, (mx - 1) // 60000000
             |      - (mn + 59999999) // 60000000 + 1) AS marks, day
             |  FROM ud),
             |a AS (SELECT count(*)::BIGINT AS n_user_days,
             |    count(DISTINCT day)::BIGINT AS n_days,
             |    sum(dwell)::BIGINT AS sd, sum(marks)::BIGINT AS sm
             |  FROM m)
             |SELECT n_user_days,
             |  round(n_user_days::DOUBLE / (n_days::DOUBLE * 24.0), 4)
             |    AS lambda_per_hour,
             |  round(sd::DOUBLE / n_user_days::DOUBLE / 1e6, 4)
             |    AS w_mean_sec,
             |  round(sd::DOUBLE / (n_days::DOUBLE * 86400.0 * 1e6), 6)
             |    AS l_integral,
             |  round(sm::DOUBLE / (n_days::DOUBLE * 1440.0), 6)
             |    AS l_sampled,
             |  round(sm::DOUBLE * 86400.0 * 1e6
             |    / nullif(sd::DOUBLE * 1440.0, 0.0), 6)
             |    AS sampled_over_integral
             |FROM a""".stripMargin)),

    // Sequential 2-pattern mining (the support-counting core of
    // PrefixSpan, Pei et al. 2001, at depth 2): pattern a→b is
    // supported by a user iff some a-event strictly precedes some
    // b-event — equivalently min_ts(a) < max_ts(b), so support needs
    // ONLY the per-(user, type) first/last timestamps: a ≤7-row-per-
    // user digest self-joined within user (≤42 pairs/user), never an
    // event-pair join. Support published both as distinct users and
    // integer ppm; top-20 by support with lexicographic ties.
    QueryDef("q_seq_pattern_mining",
      (s, d) => {
        val ut = graft.sources.Tables.events(s, d)
          .groupBy(col("user_id"), col("event_type"))
          .agg(min(unix_micros(col("ts"))).as("mn"),
            max(unix_micros(col("ts"))).as("mx"))
        val nu = broadcast(ut.agg(
          countDistinct(col("user_id")).as("n_users")))
        ut.alias("a").join(ut.alias("b"),
            col("a.user_id") === col("b.user_id") &&
              col("a.event_type") =!= col("b.event_type") &&
              col("a.mn") < col("b.mx"))
          .groupBy(col("a.event_type").as("first_type"),
            col("b.event_type").as("then_type"))
          .agg(count(lit(1)).as("support"))
          .crossJoin(nu)
          .select(col("first_type"), col("then_type"), col("support"),
            expr("support * 1000000 div n_users").as("support_ppm"))
          .orderBy(col("support").desc, col("first_type"),
            col("then_type"))
          .limit(20)
      },
      Some("""WITH ut AS (SELECT user_id, event_type,
             |    min(epoch_us(ts))::BIGINT AS mn,
             |    max(epoch_us(ts))::BIGINT AS mx
             |  FROM events GROUP BY 1, 2),
             |nu AS (SELECT count(DISTINCT user_id)::BIGINT AS n_users
             |  FROM ut),
             |p AS (SELECT a.event_type AS first_type,
             |    b.event_type AS then_type, count(*)::BIGINT AS support
             |  FROM ut a JOIN ut b ON a.user_id = b.user_id
             |    AND a.event_type <> b.event_type AND a.mn < b.mx
             |  GROUP BY 1, 2)
             |SELECT first_type, then_type, support,
             |  (support * 1000000 // n_users)::BIGINT AS support_ppm
             |FROM p, nu
             |ORDER BY support DESC, first_type, then_type
             |LIMIT 20""".stripMargin)),

    // CCNet-style perplexity-band quality filter (Wenzek et al. 2020):
    // score each document by its mean unigram log-probability under
    // the corpus LM and keep the middle band (p10..p90) — dropping
    // both boilerplate (too predictable) and gibberish (too
    // surprising). Per-term log10 p is quantized ONCE to 9 dp (the
    // text_unigram_logprob discipline) so each doc's score is an
    // EXACT integer mean-logp in nano-units, and the band cuts are
    // integer order statistics. The cuts come from
    // `Ranks.ntileBoundaries(10)` — ntile end-ranks e_1 = ceil(n/10)
    // and e_9 = ceil(9n/10) are EXACTLY the oracle's k10/k90 ranks —
    // so no row of the per-doc table ever flows through a global
    // window: the doc digest is persisted once, the boundary scan
    // range-partitions the mlp_e9 projection only, and the band
    // filter is a broadcast-literal predicate. One token pass; the
    // LM rides a broadcast term digest.
    QueryDef("pipe_perplexity_filter",
      (s, d) => {
        val toks = graft.sources.Tables.load(s, d, "documents")
          .select(col("doc_id"),
            explode(graft.ext.TextAnalysis.tokens(col("text"))).as("term"))
        val tf = toks.groupBy(col("doc_id"), col("term"))
          .agg(count(lit(1)).as("tf"))
        val cf = tf.groupBy(col("term")).agg(sum(col("tf")).as("ctf"))
        val tot = cf.agg(sum(col("ctf")).as("total"))
        val lp = cf.crossJoin(broadcast(tot))
          .select(col("term"),
            (round(log10(col("ctf").cast("double") /
              col("total").cast("double")), 9).cast("decimal(20,9)")
              * lit(1000000000L)).cast("long").as("lp_e9"))
        val docs = tf.join(lp, "term")
          .groupBy(col("doc_id"))
          .agg(sum(col("tf")).as("n_tokens"),
            sum(col("tf") * col("lp_e9")).as("sum_e9"))
          .select(col("doc_id"), col("n_tokens"),
            expr("CASE WHEN sum_e9 < 0" +
              " THEN -((-sum_e9) div n_tokens) ELSE sum_e9 div n_tokens" +
              " END").as("mlp_e9"))
          .persist()
        val b = graft.analytics.Ranks.ntileBoundaries(docs, 10,
          Seq("mlp_e9" -> false))
        val (lo, hi) = (b.head.getLong(0), b(8).getLong(0))
        // the band filter rides the cached ≤n_docs-row digest (so the
        // token pipeline runs once), then the digest is RELEASED via
        // the checkpointed result — an unreleased persist would let
        // the next bench trial read this trial's cache (and leak it)
        QueryDef.checkpointed(docs
          .filter(col("mlp_e9") >= lit(lo) && col("mlp_e9") <= lit(hi))
          .select(col("doc_id"), col("n_tokens"), col("mlp_e9"))
          .orderBy(col("doc_id")), docs)
      },
      Some("""WITH t AS (SELECT doc_id,
             |    unnest(string_split(lower(text), ' ')) AS term
             |  FROM documents),
             |tf AS (SELECT doc_id, term, count(*)::BIGINT AS tf
             |  FROM t GROUP BY 1, 2),
             |cf AS (SELECT term, sum(tf)::BIGINT AS ctf FROM tf
             |  GROUP BY 1),
             |tot AS (SELECT sum(ctf)::BIGINT AS total FROM cf),
             |lp AS (SELECT term,
             |    (round(log10(ctf::DOUBLE / total::DOUBLE), 9)
             |      ::DECIMAL(20,9) * 1000000000)::BIGINT AS lp_e9
             |  FROM cf, tot),
             |docs AS (SELECT doc_id, sum(tf)::BIGINT AS n_tokens,
             |    CASE WHEN sum(tf * lp_e9) < 0
             |      THEN -((-sum(tf * lp_e9)) // sum(tf))
             |      ELSE sum(tf * lp_e9) // sum(tf) END::BIGINT AS mlp_e9
             |  FROM tf JOIN lp USING (term) GROUP BY 1),
             |rk AS (SELECT *, row_number() OVER (ORDER BY mlp_e9) AS rn
             |  FROM docs),
             |k AS (SELECT (count(*) * 10 + 99) // 100 AS k10,
             |    (count(*) * 90 + 99) // 100 AS k90 FROM docs),
             |band AS (SELECT
             |    max(CASE WHEN rn = k10 THEN mlp_e9 END) AS lo,
             |    max(CASE WHEN rn = k90 THEN mlp_e9 END) AS hi
             |  FROM rk, k)
             |SELECT doc_id, n_tokens, mlp_e9
             |FROM rk, band WHERE mlp_e9 >= lo AND mlp_e9 <= hi
             |ORDER BY doc_id""".stripMargin)),

    // Jaccard link prediction on the co-purchase graph — the
    // set-overlap companion to q_link_prediction's Resource
    // Allocation index: J(a,b) = |Γa∩Γb| / |Γa∪Γb| for NON-edges,
    // with the intersection from the wedge join (ids-only shuffle,
    // never all-pairs) and the union by inclusion-exclusion off the
    // degree digest. The score is an integer ppm division, so the
    // ranking has no float comparison anywhere.
    QueryDef("q_jaccard_linkpred",
      (s, d) => {
        val e = s.read.parquet(SqlQueries.copurchaseEdgesOf(s, d))
          .select(col("p1"), col("p2"))
        val eb = e.select(col("p1").as("src"), col("p2").as("dst"))
          .unionAll(e.select(col("p2").as("src"), col("p1").as("dst")))
        val deg = eb.groupBy(col("src").as("node"))
          .agg(count(lit(1)).as("deg"))
        val cand = eb.select(col("src").as("z"), col("dst").as("a"))
          .join(eb.select(col("src").as("z2"), col("dst").as("b")),
            col("z") === col("z2") && col("a") < col("b"))
          .groupBy(col("a"), col("b"))
          .agg(count(lit(1)).as("common_neighbors"))
        cand.join(e, col("a") === col("p1") && col("b") === col("p2"),
            "left_anti")
          .join(deg.select(col("node").as("a"), col("deg").as("da")), "a")
          .join(deg.select(col("node").as("b"), col("deg").as("db")), "b")
          .select(col("a"), col("b"), col("common_neighbors"),
            expr("common_neighbors * 1000000" +
              " div (da + db - common_neighbors)").as("jaccard_ppm"))
          .orderBy(col("jaccard_ppm").desc, col("a"), col("b"))
          .limit(20)
      },
      Some("""WITH pp AS (SELECT DISTINCT l_orderkey, l_partkey
             |  FROM lineitem),
             |e AS (SELECT a.l_partkey AS p1, b.l_partkey AS p2
             |  FROM pp a JOIN pp b ON a.l_orderkey = b.l_orderkey
             |    AND a.l_partkey < b.l_partkey
             |  GROUP BY 1, 2 HAVING count(*) >= 2),
             |eb AS (SELECT p1 AS src, p2 AS dst FROM e
             |  UNION ALL SELECT p2, p1 FROM e),
             |deg AS (SELECT src AS node, count(*)::BIGINT AS deg
             |  FROM eb GROUP BY 1),
             |cand AS (SELECT x.dst AS a, y.dst AS b,
             |    count(*)::BIGINT AS common_neighbors
             |  FROM eb x JOIN eb y ON x.src = y.src AND x.dst < y.dst
             |  GROUP BY 1, 2),
             |ne AS (SELECT * FROM cand WHERE NOT EXISTS (
             |  SELECT 1 FROM e WHERE p1 = a AND p2 = b))
             |SELECT a, b, common_neighbors,
             |  (common_neighbors * 1000000
             |    // (da.deg + db.deg - common_neighbors))::BIGINT
             |    AS jaccard_ppm
             |FROM ne JOIN deg da ON da.node = ne.a
             |JOIN deg db ON db.node = ne.b
             |ORDER BY jaccard_ppm DESC, a, b LIMIT 20""".stripMargin)),

    // Degree-distribution power-law fit by the Hill/Clauset MLE
    // (Clauset, Shalizi & Newman 2009) with the discrete −0.5
    // correction: α̂ = 1 + n / Σ ln(d / (d_min − 0.5)) over the tail
    // d ≥ d_min = 2 of the co-purchase degree sequence. Each distinct
    // degree's ln term is quantized ONCE to 9 dp and weighted by the
    // exact cell count, so the sum is order-independent; the fit
    // rides the ≤|degree-domain| cell digest.
    QueryDef("q_degree_powerlaw",
      (s, d) => {
        val e = s.read.parquet(SqlQueries.copurchaseEdgesOf(s, d))
        val eb = e.select(col("p1").as("src"), col("p2").as("dst"))
          .unionAll(e.select(col("p2").as("src"), col("p1").as("dst")))
        val cell = eb.groupBy(col("src")).agg(count(lit(1)).as("deg"))
          .groupBy(col("deg")).agg(count(lit(1)).as("cnt"))
          .filter(col("deg") >= 2)
          .select(col("deg"), col("cnt"),
            round(log(col("deg").cast("double") / 1.5), 9)
              .cast("decimal(20,9)").as("lnq"))
        cell.agg(sum(col("cnt")).as("n_tail"),
            max(col("deg")).as("d_max"),
            sum(col("cnt").cast("decimal(9,0)") * col("lnq")).as("sl"))
          .select(col("n_tail"), lit(2L).as("d_min"), col("d_max"),
            round(lit(1.0) + col("n_tail").cast("double") /
              col("sl").cast("double"), 4).as("alpha"))
      },
      Some("""WITH pp AS (SELECT DISTINCT l_orderkey, l_partkey
             |  FROM lineitem),
             |e AS (SELECT a.l_partkey AS p1, b.l_partkey AS p2
             |  FROM pp a JOIN pp b ON a.l_orderkey = b.l_orderkey
             |    AND a.l_partkey < b.l_partkey
             |  GROUP BY 1, 2 HAVING count(*) >= 2),
             |eb AS (SELECT p1 AS src, p2 AS dst FROM e
             |  UNION ALL SELECT p2, p1 FROM e),
             |dg AS (SELECT src, count(*)::BIGINT AS deg FROM eb
             |  GROUP BY 1),
             |cell AS (SELECT deg, count(*)::BIGINT AS cnt,
             |    round(ln(deg::DOUBLE / 1.5), 9)::DECIMAL(20,9) AS lnq
             |  FROM dg WHERE deg >= 2 GROUP BY 1),
             |a AS (SELECT sum(cnt)::BIGINT AS n_tail,
             |    max(deg)::BIGINT AS d_max,
             |    sum(cnt::DECIMAL(9,0) * lnq) AS sl
             |  FROM cell)
             |SELECT n_tail, 2::BIGINT AS d_min, d_max,
             |  round(1.0 + n_tail::DOUBLE / sl::DOUBLE, 4) AS alpha
             |FROM a""".stripMargin)),

    // Seasonality / trend STRENGTH (Hyndman & Athanasopoulos, FPP
    // §12.2; the tsfeatures readout): decompose the daily revenue
    // series as a 7-term centered moving-average trend + a period-7
    // seasonal + remainder, then F_s = max(0, 1−Var(R)/Var(S+R)) and
    // F_t = max(0, 1−Var(R)/Var(T+R)). Everything runs in ×7 integer
    // units (the MA sum replaces the mean, so the detrended series is
    // an EXACT integer); the season index is t mod 7 on the row index
    // (engine-neutral — no dayofweek offset class); seasonal means
    // are quantized ONCE to 6 dp so the remainder is an exact
    // decimal. Digest-sized windows only.
    QueryDef("q_seasonality_strength",
      (s, d) => {
        val daily = graft.sources.Tables.events(s, d)
          .groupBy(to_date(col("ts")).as("day"))
          .agg((sum(col("value").cast("decimal(18,2)")) * lit(100))
            .cast("long").as("y"))
          .withColumn("t", row_number().over(Window.orderBy(col("day")))
            - 1)
        val w = Window.orderBy(col("t")).rowsBetween(-3, 3)
        val det = daily
          .withColumn("tr7", sum(col("y")).over(w))
          .withColumn("nw", count(lit(1)).over(w))
          .filter(col("nw") === 7)
          .select(col("t"), (col("t") % 7).as("q"), col("y"),
            (col("y") * 7 - col("tr7")).as("det7"),
            col("tr7"))
        val seas = det.groupBy(col("q"))
          .agg(round(avg(col("det7").cast("double")), 6)
            .cast("decimal(28,6)").as("sq"))
        val r = det.join(broadcast(seas), Seq("q"))
          .select(
            (col("det7").cast("decimal(16,6)") - col("sq"))
              .cast("decimal(16,6)").as("rem"),
            col("det7").cast("decimal(16,6)").as("sr"),
            (col("y") * 7 - col("sq")).cast("decimal(16,6)").as("tr"))
        def sq2(c: String) =
          (col(c).cast("decimal(16,6)") * col(c).cast("decimal(16,6)"))
            .cast("decimal(38,12)")
        r.agg(count(lit(1)).as("n"),
            sum(col("rem")).as("s1"),
            sum(sq2("rem")).as("v1"),
            sum(col("sr")).as("s2"),
            sum(sq2("sr")).as("v2"),
            sum(col("tr")).as("s3"),
            sum(sq2("tr")).as("v3"))
          .select(col("n").as("n_days_used"),
            // var(R)=0 → the component explains everything (F=1);
            // nullif guards the ANSI double-division-by-zero class
            round(expr(
              """CASE WHEN cast(v1 as double) - cast(s1 as double)
                |    * cast(s1 as double) / cast(n as double) = 0.0
                |  THEN 1.0
                |ELSE greatest(0.0, 1.0
                |  - (cast(v1 as double) - cast(s1 as double)
                |     * cast(s1 as double) / cast(n as double))
                |  / nullif(cast(v2 as double) - cast(s2 as double)
                |     * cast(s2 as double) / cast(n as double), 0.0))
                |END""".stripMargin), 6).as("f_seasonal"),
            round(expr(
              """CASE WHEN cast(v1 as double) - cast(s1 as double)
                |    * cast(s1 as double) / cast(n as double) = 0.0
                |  THEN 1.0
                |ELSE greatest(0.0, 1.0
                |  - (cast(v1 as double) - cast(s1 as double)
                |     * cast(s1 as double) / cast(n as double))
                |  / nullif(cast(v3 as double) - cast(s3 as double)
                |     * cast(s3 as double) / cast(n as double), 0.0))
                |END""".stripMargin), 6).as("f_trend"))
      },
      Some("""WITH daily AS (SELECT ts::DATE AS day,
             |    (sum(CAST(value AS DECIMAL(18,2))) * 100)::BIGINT AS y
             |  FROM events GROUP BY 1),
             |idx AS (SELECT y,
             |    row_number() OVER (ORDER BY day) - 1 AS t FROM daily),
             |ma AS (SELECT t, y,
             |    sum(y) OVER (ORDER BY t
             |      ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING) AS tr7,
             |    count(*) OVER (ORDER BY t
             |      ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING) AS nw
             |  FROM idx),
             |det AS (SELECT t, t % 7 AS q, y * 7 - tr7 AS det7, tr7, y
             |  FROM ma WHERE nw = 7),
             |seas AS (SELECT q,
             |    round(avg(det7::DOUBLE), 6)::DECIMAL(28,6) AS sq
             |  FROM det GROUP BY 1),
             |r AS (SELECT (det7::DECIMAL(16,6) - sq)::DECIMAL(16,6)
             |      AS rem,
             |    det7::DECIMAL(16,6) AS sr,
             |    (y * 7 - sq)::DECIMAL(16,6) AS tr
             |  FROM det JOIN seas USING (q)),
             |a AS (SELECT count(*)::BIGINT AS n,
             |    sum(rem) AS s1,
             |    sum((rem::DECIMAL(19,6) * rem)::DECIMAL(38,12)) AS v1,
             |    sum(sr) AS s2,
             |    sum((sr::DECIMAL(19,6) * sr)::DECIMAL(38,12)) AS v2,
             |    sum(tr) AS s3,
             |    sum((tr::DECIMAL(19,6) * tr)::DECIMAL(38,12)) AS v3
             |  FROM r)
             |SELECT n AS n_days_used,
             |  round(CASE WHEN v1::DOUBLE
             |      - s1::DOUBLE * s1::DOUBLE / n::DOUBLE = 0.0 THEN 1.0
             |    ELSE greatest(0.0, 1.0
             |      - (v1::DOUBLE - s1::DOUBLE * s1::DOUBLE / n::DOUBLE)
             |      / nullif(v2::DOUBLE
             |        - s2::DOUBLE * s2::DOUBLE / n::DOUBLE, 0.0)) END,
             |    6) AS f_seasonal,
             |  round(CASE WHEN v1::DOUBLE
             |      - s1::DOUBLE * s1::DOUBLE / n::DOUBLE = 0.0 THEN 1.0
             |    ELSE greatest(0.0, 1.0
             |      - (v1::DOUBLE - s1::DOUBLE * s1::DOUBLE / n::DOUBLE)
             |      / nullif(v3::DOUBLE
             |        - s3::DOUBLE * s3::DOUBLE / n::DOUBLE, 0.0)) END,
             |    6) AS f_trend
             |FROM a""".stripMargin)),

    // Tukey's median polish (Tukey 1977, EDA ch. 11) of the
    // day-of-week × hour-of-day traffic matrix: two full row/column
    // sweeps of LOWER-median subtraction, then the effect medians
    // fold into the overall term — the outlier-resistant two-way
    // decomposition next to the mean-based q_dow_effects. EVERYTHING
    // is integer: cells are counts on the generated 7×24 lattice
    // (missing cells are real zeros), lower medians of integers are
    // integers, and subtraction is closed — the gate compares 33
    // integer rows, float-free. The season index is an engine-neutral
    // datediff mod 7 (never dayofweek — the offset divergence class).
    // ONE fact-sized groupBy is the only distributed work; the four
    // sweeps are O(168) integer arithmetic on the collected lattice
    // digest (a fixed 7×24, scale-independent) — the lazy-plan
    // spelling of the same sweeps scheduled ~10 Spark jobs whose
    // fixed floor dominated the measured time at any sf.
    QueryDef("q_median_polish",
      (s, d) => {
        val cnt = graft.sources.Tables.events(s, d)
          .groupBy(
            (datediff(to_date(col("ts")), lit("2024-01-01")) % 7)
              .cast("long").as("dw"),
            hour(col("ts")).cast("long").as("hr"))
          .agg(count(lit(1)).as("v"))
        val got = cnt.collect()
          .map(r => ((r.getLong(0), r.getLong(1)), r.getLong(2))).toMap
        val v = Array.tabulate(7, 24)((dw, hr) =>
          got.getOrElse((dw.toLong, hr.toLong), 0L))
        // LOWER median = the (half)-th smallest (row_number rank half)
        def lowerMed(xs: Seq[Long], half: Int): Long = xs.sorted.apply(half - 1)
        val rowEff = Array.fill(7)(0L)
        val colEff = Array.fill(24)(0L)
        for (_ <- 0 until 2) { // two full row+column sweeps
          for (dw <- 0 until 7) {
            val m = lowerMed(v(dw).toSeq, 12)
            rowEff(dw) += m
            for (hr <- 0 until 24) v(dw)(hr) -= m
          }
          for (hr <- 0 until 24) {
            val m = lowerMed((0 until 7).map(v(_)(hr)), 4)
            colEff(hr) += m
            for (dw <- 0 until 7) v(dw)(hr) -= m
          }
        }
        val g1 = lowerMed(rowEff.toSeq, 4)
        val g2 = lowerMed(colEff.toSeq, 12)
        val residMax = v.flatten.map(math.abs).max
        import s.implicits._
        ((0 until 7).map(dw => ("dow", dw.toLong, rowEff(dw) - g1)) ++
          (0 until 24).map(hr => ("hour", hr.toLong, colEff(hr) - g2)) ++
          Seq(("overall", 0L, g1 + g2), ("resid_max", 0L, residMax)))
          .toDF("component", "idx", "effect")
      },
      Some("""WITH cnt AS (SELECT
             |    (datediff('day', DATE '2024-01-01', ts::DATE) % 7)
             |      ::BIGINT AS dw,
             |    hour(ts)::BIGINT AS hr, count(*)::BIGINT AS v
             |  FROM events GROUP BY 1, 2),
             |spine AS (SELECT d.dw, h.hr
             |  FROM (SELECT unnest(generate_series(0, 6))::BIGINT AS dw) d,
             |    (SELECT unnest(generate_series(0, 23))::BIGINT AS hr) h),
             |r0 AS (SELECT spine.dw, spine.hr,
             |    coalesce(cnt.v, 0)::BIGINT AS v
             |  FROM spine LEFT JOIN cnt USING (dw, hr)),
             |rm1 AS (SELECT dw, v AS med FROM (SELECT dw, v,
             |    row_number() OVER (PARTITION BY dw ORDER BY v) AS rn
             |  FROM r0) WHERE rn = 12),
             |r1 AS (SELECT r0.dw, r0.hr, r0.v - rm1.med AS v
             |  FROM r0 JOIN rm1 USING (dw)),
             |cm1 AS (SELECT hr, v AS med FROM (SELECT hr, v,
             |    row_number() OVER (PARTITION BY hr ORDER BY v) AS rn
             |  FROM r1) WHERE rn = 4),
             |r2 AS (SELECT r1.dw, r1.hr, r1.v - cm1.med AS v
             |  FROM r1 JOIN cm1 USING (hr)),
             |rm2 AS (SELECT dw, v AS med FROM (SELECT dw, v,
             |    row_number() OVER (PARTITION BY dw ORDER BY v) AS rn
             |  FROM r2) WHERE rn = 12),
             |r3 AS (SELECT r2.dw, r2.hr, r2.v - rm2.med AS v
             |  FROM r2 JOIN rm2 USING (dw)),
             |cm2 AS (SELECT hr, v AS med FROM (SELECT hr, v,
             |    row_number() OVER (PARTITION BY hr ORDER BY v) AS rn
             |  FROM r3) WHERE rn = 4),
             |r4 AS (SELECT r3.dw, r3.hr, r3.v - cm2.med AS v
             |  FROM r3 JOIN cm2 USING (hr)),
             |re AS (SELECT rm1.dw, rm1.med + rm2.med AS v
             |  FROM rm1 JOIN rm2 USING (dw)),
             |ce AS (SELECT cm1.hr, cm1.med + cm2.med AS v
             |  FROM cm1 JOIN cm2 USING (hr)),
             |g1 AS (SELECT v AS g1 FROM (SELECT v,
             |    row_number() OVER (ORDER BY v) AS rn FROM re)
             |  WHERE rn = 4),
             |g2 AS (SELECT v AS g2 FROM (SELECT v,
             |    row_number() OVER (ORDER BY v) AS rn FROM ce)
             |  WHERE rn = 12),
             |outp AS (
             |  SELECT 'dow' AS component, dw AS idx, v - g1 AS effect
             |    FROM re, g1
             |  UNION ALL SELECT 'hour', hr, v - g2 FROM ce, g2
             |  UNION ALL SELECT 'overall', 0, g1 + g2 FROM g1, g2
             |  UNION ALL SELECT 'resid_max', 0, max(abs(v)) FROM r4)
             |SELECT component, idx::BIGINT AS idx, effect::BIGINT AS effect
             |FROM outp ORDER BY component, idx""".stripMargin)),

    // Daily error-rate p-chart (Shewhart attribute chart; Montgomery
    // SQC ch. 7) with VARIABLE subgroup sizes: a day is out of
    // control when |p_d − p̄| > 3·√(p̄(1−p̄)/n_d). The flag is decided
    // by the CROSS-MULTIPLIED integer inequality
    // (e_d·N − E·n_d)² > 9·E·(N−E)·n_d — no float σ, no boundary
    // drift (the q_western_electric discipline). One fact-sized
    // groupBy(day); the chart rides the calendar digest.
    QueryDef("q_p_chart",
      (s, d) => {
        val daily = graft.sources.Tables.events(s, d)
          .groupBy(to_date(col("ts")).as("day"))
          .agg(count(lit(1)).as("nd"),
            sum(when(col("event_type") === "error", 1L).otherwise(0L))
              .as("ed"))
        val tot = broadcast(daily.agg(sum(col("nd")).as("nn"),
          sum(col("ed")).as("ee")))
        daily.crossJoin(tot)
          .withColumn("dev", (col("ed") * col("nn") - col("ee") * col("nd"))
            .cast("decimal(38,0)"))
          .withColumn("oob", (col("dev") * col("dev") >
            lit(9).cast("decimal(38,0)") * col("ee") *
              (col("nn") - col("ee")) * col("nd")).cast("long"))
          .agg(count(lit(1)).as("n_days"),
            max(expr("ee * 1000000 div nn")).as("pbar_ppm"),
            sum(col("oob")).as("n_flagged"),
            min(when(col("oob") === 1, col("day").cast("string")))
              .as("first_flagged"))
      },
      Some("""WITH daily AS (SELECT ts::DATE AS day,
             |    count(*)::BIGINT AS nd,
             |    sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END)
             |      ::BIGINT AS ed
             |  FROM events GROUP BY 1),
             |tot AS (SELECT sum(nd)::BIGINT AS nn, sum(ed)::BIGINT AS ee
             |  FROM daily),
             |f AS (SELECT day, nd, ed, nn, ee,
             |    CASE WHEN (ed::HUGEINT * nn - ee::HUGEINT * nd)
             |        * (ed::HUGEINT * nn - ee::HUGEINT * nd)
             |      > 9::HUGEINT * ee * (nn - ee) * nd
             |      THEN 1 ELSE 0 END::BIGINT AS oob
             |  FROM daily, tot)
             |SELECT count(*)::BIGINT AS n_days,
             |  max(ee * 1000000 // nn)::BIGINT AS pbar_ppm,
             |  sum(oob)::BIGINT AS n_flagged,
             |  min(CASE WHEN oob = 1 THEN day::VARCHAR END)
             |    AS first_flagged
             |FROM f""".stripMargin)),

    // Moving-block bootstrap SE of the daily-revenue mean (Künsch
    // 1989): B = 100 replicates, block length 7; each replicate
    // concatenates ⌈n/7⌉ md5-seeded blocks (truncated to n values).
    // Block sums come from the calendar PREFIX-SUM digest — two
    // lookups per block, never a per-day explode — and every
    // replicate mean is an exact integer-cents sum, so the only
    // doubles are the final SE/mean projections. The md5 block
    // starts replay in SQL (the q_bootstrap_ci / q_permutation_test
    // resampling-without-RNG discipline).
    QueryDef("q_block_bootstrap",
      (s, d) => {
        val daily = graft.sources.Tables.events(s, d)
          .groupBy(to_date(col("ts")).as("day"))
          .agg((sum(col("value").cast("decimal(18,2)")) * lit(100))
            .cast("long").as("y"))
          .withColumn("t", row_number().over(Window.orderBy(col("day")))
            - 1)
          .withColumn("p", sum(col("y")).over(Window.orderBy(col("t"))
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        val nRow = broadcast(daily.agg(count(lit(1)).as("n"),
          max(col("p")).as("tot")))
        val slots = s.range(0, 100).select(col("id").as("b"))
          .crossJoin(s.range(0, 64).select(col("id").as("i")))
          .crossJoin(nRow)
          .filter(col("i") * 7 < col("n"))
          .withColumn("st", pmod(graft.ext.Dedup.strHash60(
            concat(lit("bb:"), col("b"), lit(":"), col("i"))),
            col("n") - 6))
          .withColumn("k", least(lit(7L), col("n") - col("i") * 7))
        val withP = slots
          .join(daily.select(col("t").as("t1"), col("p").as("p_hi")),
            col("t1") === col("st") + col("k") - 1)
          .join(daily.select(col("t").as("t2"), col("p").as("p_lo")),
            col("t2") === col("st") - 1, "left")
          .withColumn("bs", col("p_hi") - coalesce(col("p_lo"), lit(0L)))
        val reps = withP.groupBy(col("b"))
          .agg(sum(col("bs")).as("rs"), max(col("n")).as("n"),
            max(col("tot")).as("tot"))
        reps.agg(max(col("n")).as("n_days"),
            count(lit(1)).as("b_reps"),
            round(max(col("tot")).cast("double") /
              max(col("n")).cast("double") / 100.0, 4).as("mean_obs"),
            round(sqrt((sum((col("rs").cast("decimal(38,0)") * col("rs")))
              .cast("double") -
              sum(col("rs")).cast("double") * sum(col("rs")).cast("double")
                / 100.0) / 99.0) /
              max(col("n")).cast("double") / 100.0, 4).as("se_boot"))
      },
      Some(s"""WITH daily AS (SELECT ts::DATE AS day,
             |    (sum(CAST(value AS DECIMAL(18,2))) * 100)::BIGINT AS y
             |  FROM events GROUP BY 1),
             |idx AS (SELECT y, row_number() OVER (ORDER BY day) - 1
             |    AS t FROM daily),
             |pfx AS (SELECT t, sum(y) OVER (ORDER BY t
             |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
             |    ::BIGINT AS p FROM idx),
             |nr AS (SELECT count(*)::BIGINT AS n, max(p)::BIGINT AS tot
             |  FROM pfx),
             |slots AS (SELECT b, i, n, tot,
             |    ${graft.ext.Dedup.strHash60Sql("'bb:' || b || ':' || i")} % (n - 6) AS st,
             |    least(7, n - i * 7) AS k
             |  FROM (SELECT unnest(generate_series(0, 99)) AS b) bb,
             |    (SELECT unnest(generate_series(0, 63)) AS i) ii, nr
             |  WHERE i * 7 < n),
             |bsum AS (SELECT s.b, s.n, s.tot,
             |    hi.p - coalesce(lo.p, 0) AS bs
             |  FROM slots s
             |  JOIN pfx hi ON hi.t = s.st + s.k - 1
             |  LEFT JOIN pfx lo ON lo.t = s.st - 1),
             |reps AS (SELECT b, sum(bs)::BIGINT AS rs,
             |    max(n)::BIGINT AS n, max(tot)::BIGINT AS tot
             |  FROM bsum GROUP BY 1)
             |SELECT max(n)::BIGINT AS n_days,
             |  count(*)::BIGINT AS b_reps,
             |  round(max(tot)::DOUBLE / max(n)::DOUBLE / 100.0, 4)
             |    AS mean_obs,
             |  round(sqrt((sum(rs::HUGEINT * rs)::DOUBLE
             |      - sum(rs)::DOUBLE * sum(rs)::DOUBLE / 100.0) / 99.0)
             |    / max(n)::DOUBLE / 100.0, 4) AS se_boot
             |FROM reps""".stripMargin)),

    // Seasonal Hybrid ESD (Vallis, Hochenbaum & Kejariwal 2014 — the
    // Twitter AnomalyDetection method): remove the period-7 seasonal
    // LOWER-median and the overall median, then run the 5-round
    // generalized-ESD peel on the residual. The seasonal medians are
    // exact integers off the calendar digest; the peel is the
    // q_gesd_outliers driver-fold (one distributed groupBy, then
    // exact Long/BigInt algebra on ≤366 rows, O(1) driver state) with
    // the identical double spelling as the oracle's round ladder.
    QueryDef("q_seasonal_hybrid_esd",
      (s, d) => {
        val daily = graft.sources.Tables.events(s, d)
          .groupBy(to_date(col("ts")).as("day"))
          .agg((sum(col("value").cast("decimal(18,2)")) * lit(100))
            .cast("long").as("y"))
          .select(col("day").cast("string").as("day"),
            (datediff(col("day"), lit("2024-01-01")) % 7).cast("long")
              .as("q"), col("y"))
        val rows0: Vector[(String, Long, Long)] = daily.collect()
          .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toVector
        def lowMed(xs: Seq[Long]): Long = {
          val s0 = xs.sorted
          s0((s0.size - 1) / 2)
        }
        val medQ = rows0.groupBy(_._2).map { case (q, g) =>
          q -> lowMed(g.map(_._3))
        }
        val resid0 = rows0.map { case (day, q, y) => (day, y - medQ(q)) }
        val gMed = lowMed(resid0.map(_._2))
        var rem = resid0.map { case (day, r) => (day, r - gMed) }
        val out = Seq.newBuilder[(Int, String, Option[Double])]
        for (r <- 1 to 5 if rem.nonEmpty) {
          val n = rem.size.toLong
          val sy = rem.iterator.map(_._2).sum
          val syy = rem.iterator.map(t => BigInt(t._2) * t._2).sum
          val best = rem.reduceLeft { (a, b) =>
            val da = (n * a._2 - sy).abs
            val db = (n * b._2 - sy).abs
            if (db > da || (db == da && b._1 < a._1)) b else a
          }
          val den = BigInt(n) * syy - BigInt(sy) * sy
          val rStat =
            if (den == 0) None
            else {
              val dev = (n * best._2 - sy).abs.toDouble
              val t = dev / n.toDouble /
                math.sqrt(den.toDouble / (n.toDouble * (n.toDouble - 1.0)))
              Some(BigDecimal(t)
                .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
            }
          out += ((r, best._1, rStat))
          rem = rem.filterNot(_._1 == best._1)
        }
        import s.implicits._
        out.result().toDF("round", "day", "r_stat")
      },
      Some {
        val roundCtes = (1 to 5).map { r =>
          s"""st$r AS (SELECT count(*)::BIGINT AS n,
             |    sum(y)::BIGINT AS sy, sum(y::HUGEINT * y) AS syy
             |  FROM base${r - 1}),
             |sel$r AS (SELECT $r AS round, b.day AS day,
             |    round(CASE WHEN st$r.n::HUGEINT * st$r.syy
             |        - st$r.sy::HUGEINT * st$r.sy = 0 THEN NULL
             |      ELSE abs(st$r.n * b.y - st$r.sy)::DOUBLE
             |        / st$r.n::DOUBLE
             |        / sqrt((st$r.n::HUGEINT * st$r.syy
             |            - st$r.sy::HUGEINT * st$r.sy)::DOUBLE
             |          / (st$r.n::DOUBLE * (st$r.n::DOUBLE - 1.0)))
             |      END, 6) AS r_stat,
             |    b.day AS day0
             |  FROM base${r - 1} b, st$r
             |  QUALIFY row_number() OVER (
             |    ORDER BY abs(st$r.n * b.y - st$r.sy) DESC, b.day) = 1),
             |base$r AS (SELECT day, y FROM base${r - 1}
             |  WHERE day NOT IN (SELECT day0 FROM sel$r))"""
            .stripMargin
        }.mkString(",\n")
        s"""WITH daily AS (SELECT ts::DATE::VARCHAR AS day,
           |    (datediff('day', DATE '2024-01-01', ts::DATE) % 7)
           |      ::BIGINT AS q,
           |    (sum(CAST(value AS DECIMAL(18,2))) * 100)::BIGINT AS y
           |  FROM events GROUP BY 1, 2),
           |mq AS (SELECT q, y AS med FROM (SELECT q, y,
           |    row_number() OVER (PARTITION BY q ORDER BY y) AS rn,
           |    count(*) OVER (PARTITION BY q) AS c
           |  FROM daily) WHERE rn = (c + 1) // 2),
           |r0 AS (SELECT daily.day, daily.y - mq.med AS y
           |  FROM daily JOIN mq USING (q)),
           |gm AS (SELECT y AS g FROM (SELECT y,
           |    row_number() OVER (ORDER BY y) AS rn,
           |    count(*) OVER () AS c FROM r0)
           |  WHERE rn = (c + 1) // 2),
           |base0 AS (SELECT day, r0.y - gm.g AS y FROM r0, gm),
           |$roundCtes
           |SELECT round, day, r_stat FROM (
           |  SELECT round, day, r_stat FROM sel1
           |  UNION ALL SELECT round, day, r_stat FROM sel2
           |  UNION ALL SELECT round, day, r_stat FROM sel3
           |  UNION ALL SELECT round, day, r_stat FROM sel4
           |  UNION ALL SELECT round, day, r_stat FROM sel5)
           |ORDER BY round""".stripMargin
      }),

    // Triplet-margin audit of the embedding space (the metric-
    // learning health check behind emb_hard_negatives): for every
    // anchor, the nearest SAME-label and nearest OTHER-label vectors
    // by exact integer squared distance on the 16-dim 1e-3 grid; a
    // violation is d²(pos) ≥ d²(neg) — the anchor's neighborhood is
    // label-impure at margin 0. Per-label violation ppm plus the mean
    // margin in integer units — float-free end to end. The pair join
    // is bounded to the ≤512-anchor audit slice (the corpus-scale
    // path would reuse the banded ANN candidates).
    QueryDef("emb_triplet_margin",
      (s, d) => {
        val xq = transform(slice(col("embedding"), 1, 16),
          x => round(x.cast("double") * 1000, 0).cast("long"))
        val v = graft.sources.Tables.load(s, d, "embeddings")
          .filter(col("vec_id") < 512)
          .select(col("vec_id"), col("label"), xq.as("q"))
          // r17 HotProbe: the single-file scan left the all-pairs
          // distance evaluation on ONE task (0.57 s serial) — fan the
          // 512-row anchor side to runtime width
          .transform(QueryDef.fanOut)
        def d2 = expr(
          "aggregate(zip_with(q, q2, (u, v) -> (u - v) * (u - v)), " +
            "0L, (acc, e) -> acc + e)")
        val pairs = v.join(
            v.select(col("vec_id").as("v2"), col("label").as("l2"),
              col("q").as("q2")),
            col("vec_id") =!= col("v2"))
          .select(col("vec_id"), col("label"), col("l2"), d2.as("d2"))
        val nn = pairs.groupBy(col("vec_id"), col("label"))
          .agg(min(when(col("label") === col("l2"), col("d2"))).as("dpos"),
            min(when(col("label") =!= col("l2"), col("d2"))).as("dneg"))
          .filter(col("dpos").isNotNull && col("dneg").isNotNull)
        nn.groupBy(col("label"))
          .agg(count(lit(1)).as("n_anchors"),
            sum(when(col("dpos") >= col("dneg"), 1L).otherwise(0L))
              .as("n_violations"),
            sum(col("dneg") - col("dpos")).as("margin_sum"))
          .select(col("label").cast("long").as("label"),
            col("n_anchors"),
            col("n_violations"),
            expr("n_violations * 1000000 div n_anchors")
              .as("violation_ppm"),
            expr("CASE WHEN margin_sum < 0" +
              " THEN -((-margin_sum) div n_anchors)" +
              " ELSE margin_sum div n_anchors END").as("mean_margin"))
          .orderBy(col("label"))
      },
      Some("""WITH v AS (SELECT vec_id, label,
             |    list_transform(embedding[1:16],
             |      x -> round(x::DOUBLE * 1000)::BIGINT) AS q
             |  FROM embeddings WHERE vec_id < 512),
             |p AS (SELECT a.vec_id, a.label, b.label AS l2,
             |    list_sum(list_transform(range(1, 17),
             |      i -> (a.q[i] - b.q[i]) * (a.q[i] - b.q[i])))::BIGINT
             |      AS d2
             |  FROM v a JOIN v b ON a.vec_id != b.vec_id),
             |nn AS (SELECT vec_id, label,
             |    min(CASE WHEN label = l2 THEN d2 END) AS dpos,
             |    min(CASE WHEN label != l2 THEN d2 END) AS dneg
             |  FROM p GROUP BY 1, 2),
             |f AS (SELECT * FROM nn
             |  WHERE dpos IS NOT NULL AND dneg IS NOT NULL),
             |g AS (SELECT label, count(*)::BIGINT AS n_anchors,
             |    sum(CASE WHEN dpos >= dneg THEN 1 ELSE 0 END)::BIGINT
             |      AS n_violations,
             |    sum(dneg - dpos)::BIGINT AS margin_sum
             |  FROM f GROUP BY 1)
             |SELECT label::BIGINT AS label, n_anchors, n_violations,
             |  (n_violations * 1000000 // n_anchors)::BIGINT
             |    AS violation_ppm,
             |  (CASE WHEN margin_sum < 0
             |    THEN -((-margin_sum) // n_anchors)
             |    ELSE margin_sum // n_anchors END)::BIGINT AS mean_margin
             |FROM g ORDER BY label""".stripMargin)),

    // Adstock regression (Broadbent 1979; the marketing-mix carryover
    // model): clicks decay geometrically (λ = 0.5, 20-day memory) into
    // an adstock series, then daily revenue is OLS-regressed on it.
    // The decay weights 0.5^k are EXACT dyadic doubles quantized once
    // to 9 dp, so the adstock is an exact DECIMAL pair-join sum over
    // the calendar digest (k ≤ 20 bounded fan-out — the q_ewma_chart
    // closed-form discipline, no sequential fold); the OLS moments
    // are exact decimal sums and only the final β/intercept/R² are
    // doubles with identical spelling.
    QueryDef("q_adstock_regression",
      (s, d) => {
        val daily = graft.sources.Tables.events(s, d)
          .groupBy(to_date(col("ts")).as("day"))
          .agg(sum(when(col("event_type") === "click", 1L).otherwise(0L))
            .as("x"),
            (sum(col("value").cast("decimal(18,2)")) * lit(100))
              .cast("long").as("y"))
          .withColumn("t", row_number().over(Window.orderBy(col("day")))
            - 1)
        val src = daily.select(col("t").as("ts2"), col("x").as("xs"))
        val ad = daily.join(src,
            col("ts2") >= col("t") - 20 && col("ts2") <= col("t"))
          .withColumn("w", round(pow(lit(0.5),
            (col("t") - col("ts2")).cast("double")), 9)
            .cast("decimal(12,9)"))
          .groupBy(col("t"), col("y"))
          .agg(sum(col("xs").cast("decimal(10,0)") * col("w")).as("a"))
          .select(col("y"), col("a").cast("decimal(16,9)").as("a"))
        ad.agg(count(lit(1)).as("n"),
            sum(col("a")).as("sa"),
            sum((col("a") * col("a")).cast("decimal(38,18)")).as("saa"),
            sum((col("a") * col("y").cast("decimal(12,0)"))
              .cast("decimal(38,9)")).as("say"),
            sum(col("y")).as("sy"),
            sum(col("y").cast("decimal(38,0)") * col("y")).as("syy"))
          .select(col("n").as("n_days"),
            round(expr(
              """(cast(n as double) * cast(say as double)
                | - cast(sa as double) * cast(sy as double))
                |/ nullif(cast(n as double) * cast(saa as double)
                | - cast(sa as double) * cast(sa as double), 0.0)
                |/ 100.0""".stripMargin), 6).as("beta"),
            round(expr(
              """(cast(sy as double) / cast(n as double)
                | - ((cast(n as double) * cast(say as double)
                |     - cast(sa as double) * cast(sy as double))
                |   / nullif(cast(n as double) * cast(saa as double)
                |     - cast(sa as double) * cast(sa as double), 0.0))
                |   * cast(sa as double) / cast(n as double)) / 100.0"""
                .stripMargin), 4).as("intercept"),
            round(expr(
              """(cast(n as double) * cast(say as double)
                | - cast(sa as double) * cast(sy as double))
                |* (cast(n as double) * cast(say as double)
                | - cast(sa as double) * cast(sy as double))
                |/ nullif((cast(n as double) * cast(saa as double)
                |   - cast(sa as double) * cast(sa as double))
                |  * (cast(n as double) * cast(syy as double)
                |   - cast(sy as double) * cast(sy as double)), 0.0)"""
                .stripMargin), 6).as("r2"))
      },
      Some("""WITH daily AS (SELECT ts::DATE AS day,
             |    sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
             |      ::BIGINT AS x,
             |    (sum(CAST(value AS DECIMAL(18,2))) * 100)::BIGINT AS y
             |  FROM events GROUP BY 1),
             |idx AS (SELECT x, y,
             |    row_number() OVER (ORDER BY day) - 1 AS t FROM daily),
             |ad AS (SELECT i.t, i.y,
             |    sum(j.x::DECIMAL(10,0)
             |      * round(pow(0.5, (i.t - j.t)::DOUBLE), 9)
             |        ::DECIMAL(12,9))::DECIMAL(16,9) AS a
             |  FROM idx i JOIN idx j
             |    ON j.t >= i.t - 20 AND j.t <= i.t
             |  GROUP BY 1, 2),
             |m AS (SELECT count(*)::BIGINT AS n, sum(a) AS sa,
             |    sum((a::DECIMAL(19,9) * a)::DECIMAL(38,18)) AS saa,
             |    sum((a::DECIMAL(19,9) * y)::DECIMAL(38,9)) AS say,
             |    sum(y)::BIGINT AS sy, sum(y::HUGEINT * y) AS syy
             |  FROM ad)
             |SELECT n AS n_days,
             |  round((n::DOUBLE * say::DOUBLE - sa::DOUBLE * sy::DOUBLE)
             |    / nullif(n::DOUBLE * saa::DOUBLE
             |      - sa::DOUBLE * sa::DOUBLE, 0.0) / 100.0, 6) AS beta,
             |  round((sy::DOUBLE / n::DOUBLE
             |    - ((n::DOUBLE * say::DOUBLE - sa::DOUBLE * sy::DOUBLE)
             |      / nullif(n::DOUBLE * saa::DOUBLE
             |        - sa::DOUBLE * sa::DOUBLE, 0.0))
             |      * sa::DOUBLE / n::DOUBLE) / 100.0, 4) AS intercept,
             |  round((n::DOUBLE * say::DOUBLE - sa::DOUBLE * sy::DOUBLE)
             |    * (n::DOUBLE * say::DOUBLE - sa::DOUBLE * sy::DOUBLE)
             |    / nullif((n::DOUBLE * saa::DOUBLE
             |       - sa::DOUBLE * sa::DOUBLE)
             |      * (n::DOUBLE * syy::DOUBLE - sy::DOUBLE * sy::DOUBLE),
             |      0.0), 6) AS r2
             |FROM m""".stripMargin)),

    // User-level event study (MacKinlay 1997 brought to product
    // analytics): activity in the ±7-day window around each user's
    // FIRST purchase, as events-per-million-users by relative day —
    // the adoption-curve readout that says what a purchase does to
    // engagement. The generated −7..7 spine keeps empty offsets as
    // real zeros; every output is an exact integer (ppm division).
    // One shuffle on user_id for the anchor digest, one broadcast
    // join back to facts.
    QueryDef("q_event_study",
      (s, d) => {
        val ev = graft.sources.Tables.events(s, d)
        val anchors = ev.filter(col("event_type") === "purchase")
          .groupBy(col("user_id")).agg(min(to_date(col("ts"))).as("t0"))
        val nu = broadcast(anchors.agg(count(lit(1)).as("n_users")))
        val rel = ev.join(broadcast(anchors), "user_id")
          .select(datediff(to_date(col("ts")), col("t0")).as("rel_day"))
          .filter(col("rel_day").between(-7, 7))
          .groupBy(col("rel_day")).agg(count(lit(1)).as("n_events"))
        s.range(-7, 8).select(col("id").as("rel_day"))
          .join(rel, Seq("rel_day"), "left")
          .crossJoin(nu)
          .select(col("rel_day"),
            coalesce(col("n_events"), lit(0L)).as("n_events"),
            col("n_users"),
            expr("coalesce(n_events, 0) * 1000000 div n_users")
              .as("events_ppm_user"))
          .orderBy(col("rel_day"))
      },
      Some("""WITH a AS (SELECT user_id, min(ts::DATE) AS t0
             |  FROM events WHERE event_type = 'purchase' GROUP BY 1),
             |nu AS (SELECT count(*)::BIGINT AS n_users FROM a),
             |r AS (SELECT datediff('day', a.t0, e.ts::DATE)::BIGINT
             |      AS rel_day,
             |    count(*)::BIGINT AS n_events
             |  FROM events e JOIN a USING (user_id)
             |  WHERE datediff('day', a.t0, e.ts::DATE) BETWEEN -7 AND 7
             |  GROUP BY 1)
             |SELECT sp.rel_day, coalesce(r.n_events, 0)::BIGINT
             |    AS n_events,
             |  nu.n_users,
             |  (coalesce(r.n_events, 0) * 1000000 // nu.n_users)::BIGINT
             |    AS events_ppm_user
             |FROM (SELECT unnest(generate_series(-7, 7))::BIGINT
             |    AS rel_day) sp
             |LEFT JOIN r USING (rel_day), nu
             |ORDER BY sp.rel_day""".stripMargin)),

    // Yuen's trimmed-means t-test (Yuen 1974) between the view and
    // click channels at 20% trimming — the robust two-sample location
    // test next to q_welch_ttest (which its formula reduces to at
    // g = 0). Trim boundaries, trimmed sums and winsorized sums/
    // squares all come EXACTLY off the per-group value-CELL digest
    // (per-cell clamp arithmetic splits each cell into below-trim /
    // kept / above-trim counts — no per-row ranking), so the only
    // doubles are the final t and Welch–Satterthwaite df. 100 TB: one
    // fact-sized groupBy(g, x); everything else rides the cells.
    QueryDef("q_yuen_trimmed",
      (s, d) => {
        val f = graft.sources.Tables.events(s, d)
          .filter(col("event_type").isin("view", "click"))
          .select(col("event_type").as("g"),
            floor(col("value") * 1000).cast("long").as("x"))
        val cells = f.groupBy(col("g"), col("x"))
          .agg(count(lit(1)).as("cnt"))
          .withColumn("cumb", coalesce(sum(col("cnt")).over(
            Window.partitionBy(col("g")).orderBy(col("x"))
              .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
          .withColumn("ng", sum(col("cnt")).over(
            Window.partitionBy(col("g"))))
          .withColumn("cum", col("cumb") + col("cnt"))
          .withColumn("gt", expr("ng div 5"))
          .withColumn("lv", min(when(col("cum") >= col("gt") + 1,
            col("x"))).over(Window.partitionBy(col("g"))))
          .withColumn("hv", min(when(col("cum") >= col("ng") - col("gt"),
            col("x"))).over(Window.partitionBy(col("g"))))
          .withColumn("low", greatest(lit(0L),
            least(col("gt"), col("cum")) - col("cumb")))
          .withColumn("high", greatest(lit(0L),
            col("cum") - greatest(col("ng") - col("gt"), col("cumb"))))
          .withColumn("mid", col("cnt") - col("low") - col("high"))
        val grp = cells.groupBy(col("g"))
          .agg(max(col("ng")).as("n"), max(col("gt")).as("gt"),
            max(col("lv")).as("lv"), max(col("hv")).as("hv"),
            sum(col("mid") * col("x")).as("st"),
            sum((col("mid").cast("decimal(19,0)") * col("x") * col("x")))
              .as("stt"))
          .select(col("g"), col("n"),
            (col("n") - col("gt") * 2).as("h"),
            col("st"),
            (col("st") + col("gt") * (col("lv") + col("hv"))).as("sw"),
            (col("stt") + col("gt").cast("decimal(19,0)") *
              (col("lv") * col("lv") + col("hv") * col("hv"))).as("sww"))
        val p = grp.agg(
          max(when(col("g") === "view", col("n"))).as("n1"),
          max(when(col("g") === "view", col("h"))).as("h1"),
          max(when(col("g") === "view", col("st"))).as("st1"),
          max(when(col("g") === "view", col("sw"))).as("sw1"),
          max(when(col("g") === "view", col("sww"))).as("sww1"),
          max(when(col("g") === "click", col("n"))).as("n2"),
          max(when(col("g") === "click", col("h"))).as("h2"),
          max(when(col("g") === "click", col("st"))).as("st2"),
          max(when(col("g") === "click", col("sw"))).as("sw2"),
          max(when(col("g") === "click", col("sww"))).as("sww2"))
        p.select(col("n1"), col("n2"), col("h1"), col("h2"),
          round(expr("cast(st1 as double) / cast(h1 as double) / 1000.0"),
            4).as("tm_view"),
          round(expr("cast(st2 as double) / cast(h2 as double) / 1000.0"),
            4).as("tm_click"),
          round(expr(
            """(cast(st1 as double) / cast(h1 as double)
              | - cast(st2 as double) / cast(h2 as double)) / 1000.0
              |/ nullif(sqrt(
              |   (cast(sww1 as double) - cast(sw1 as double)
              |      * cast(sw1 as double) / cast(n1 as double))
              |     / (cast(h1 as double) * (cast(h1 as double) - 1.0))
              | + (cast(sww2 as double) - cast(sw2 as double)
              |      * cast(sw2 as double) / cast(n2 as double))
              |     / (cast(h2 as double) * (cast(h2 as double) - 1.0)))
              |   / 1000.0, 0.0)""".stripMargin), 4).as("t_stat"),
          round(expr(
            """CASE WHEN (cast(sww1 as double) - cast(sw1 as double)
              |      * cast(sw1 as double) / cast(n1 as double))
              |     / (cast(h1 as double) * (cast(h1 as double) - 1.0))
              | + (cast(sww2 as double) - cast(sw2 as double)
              |      * cast(sw2 as double) / cast(n2 as double))
              |     / (cast(h2 as double) * (cast(h2 as double) - 1.0))
              |   = 0.0 THEN NULL
              |ELSE ((cast(sww1 as double) - cast(sw1 as double)
              |      * cast(sw1 as double) / cast(n1 as double))
              |     / (cast(h1 as double) * (cast(h1 as double) - 1.0))
              | + (cast(sww2 as double) - cast(sw2 as double)
              |      * cast(sw2 as double) / cast(n2 as double))
              |     / (cast(h2 as double) * (cast(h2 as double) - 1.0)))
              |* ((cast(sww1 as double) - cast(sw1 as double)
              |      * cast(sw1 as double) / cast(n1 as double))
              |     / (cast(h1 as double) * (cast(h1 as double) - 1.0))
              | + (cast(sww2 as double) - cast(sw2 as double)
              |      * cast(sw2 as double) / cast(n2 as double))
              |     / (cast(h2 as double) * (cast(h2 as double) - 1.0)))
              |/ (pow((cast(sww1 as double) - cast(sw1 as double)
              |      * cast(sw1 as double) / cast(n1 as double))
              |     / (cast(h1 as double) * (cast(h1 as double) - 1.0)), 2.0)
              |    / (cast(h1 as double) - 1.0)
              |  + pow((cast(sww2 as double) - cast(sw2 as double)
              |      * cast(sw2 as double) / cast(n2 as double))
              |     / (cast(h2 as double) * (cast(h2 as double) - 1.0)), 2.0)
              |    / (cast(h2 as double) - 1.0)) END""".stripMargin), 2)
            .as("df"))
      },
      Some("""WITH f AS (SELECT event_type AS g,
             |    floor(value * 1000)::BIGINT AS x FROM events
             |  WHERE event_type IN ('view', 'click')),
             |cells AS (SELECT g, x, count(*)::BIGINT AS cnt
             |  FROM f GROUP BY 1, 2),
             |w AS (SELECT g, x, cnt,
             |    coalesce(sum(cnt) OVER (PARTITION BY g ORDER BY x
             |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
             |      0)::BIGINT AS cumb,
             |    sum(cnt) OVER (PARTITION BY g)::BIGINT AS ng
             |  FROM cells),
             |w2 AS (SELECT *, cumb + cnt AS cum, ng // 5 AS gt FROM w),
             |w3 AS (SELECT *,
             |    min(CASE WHEN cum >= gt + 1 THEN x END)
             |      OVER (PARTITION BY g) AS lv,
             |    min(CASE WHEN cum >= ng - gt THEN x END)
             |      OVER (PARTITION BY g) AS hv,
             |    greatest(0, least(gt, cum) - cumb) AS low,
             |    greatest(0, cum - greatest(ng - gt, cumb)) AS high
             |  FROM w2),
             |grp AS (SELECT g, max(ng)::BIGINT AS n,
             |    max(gt)::BIGINT AS gt, max(lv)::BIGINT AS lv,
             |    max(hv)::BIGINT AS hv,
             |    sum((cnt - low - high) * x)::BIGINT AS st,
             |    sum((cnt - low - high)::DECIMAL(19,0) * x * x) AS stt
             |  FROM w3 GROUP BY 1),
             |g2 AS (SELECT g, n, n - 2 * gt AS h, st,
             |    st + gt * (lv + hv) AS sw,
             |    stt + gt::DECIMAL(19,0) * (lv * lv + hv * hv) AS sww
             |  FROM grp),
             |p AS (SELECT
             |    max(CASE WHEN g = 'view' THEN n END)::BIGINT AS n1,
             |    max(CASE WHEN g = 'view' THEN h END)::BIGINT AS h1,
             |    max(CASE WHEN g = 'view' THEN st END)::BIGINT AS st1,
             |    max(CASE WHEN g = 'view' THEN sw END)::BIGINT AS sw1,
             |    max(CASE WHEN g = 'view' THEN sww END) AS sww1,
             |    max(CASE WHEN g = 'click' THEN n END)::BIGINT AS n2,
             |    max(CASE WHEN g = 'click' THEN h END)::BIGINT AS h2,
             |    max(CASE WHEN g = 'click' THEN st END)::BIGINT AS st2,
             |    max(CASE WHEN g = 'click' THEN sw END)::BIGINT AS sw2,
             |    max(CASE WHEN g = 'click' THEN sww END) AS sww2
             |  FROM g2)
             |SELECT n1, n2, h1, h2,
             |  round(st1::DOUBLE / h1::DOUBLE / 1000.0, 4) AS tm_view,
             |  round(st2::DOUBLE / h2::DOUBLE / 1000.0, 4) AS tm_click,
             |  round((st1::DOUBLE / h1::DOUBLE
             |      - st2::DOUBLE / h2::DOUBLE) / 1000.0
             |    / nullif(sqrt(
             |      (sww1::DOUBLE - sw1::DOUBLE * sw1::DOUBLE / n1::DOUBLE)
             |        / (h1::DOUBLE * (h1::DOUBLE - 1.0))
             |      + (sww2::DOUBLE - sw2::DOUBLE * sw2::DOUBLE
             |          / n2::DOUBLE)
             |        / (h2::DOUBLE * (h2::DOUBLE - 1.0))) / 1000.0, 0.0),
             |    4) AS t_stat,
             |  round(CASE WHEN
             |      (sww1::DOUBLE - sw1::DOUBLE * sw1::DOUBLE / n1::DOUBLE)
             |        / (h1::DOUBLE * (h1::DOUBLE - 1.0))
             |      + (sww2::DOUBLE - sw2::DOUBLE * sw2::DOUBLE
             |          / n2::DOUBLE)
             |        / (h2::DOUBLE * (h2::DOUBLE - 1.0)) = 0.0 THEN NULL
             |    ELSE ((sww1::DOUBLE - sw1::DOUBLE * sw1::DOUBLE
             |          / n1::DOUBLE)
             |        / (h1::DOUBLE * (h1::DOUBLE - 1.0))
             |      + (sww2::DOUBLE - sw2::DOUBLE * sw2::DOUBLE
             |          / n2::DOUBLE)
             |        / (h2::DOUBLE * (h2::DOUBLE - 1.0)))
             |    * ((sww1::DOUBLE - sw1::DOUBLE * sw1::DOUBLE
             |          / n1::DOUBLE)
             |        / (h1::DOUBLE * (h1::DOUBLE - 1.0))
             |      + (sww2::DOUBLE - sw2::DOUBLE * sw2::DOUBLE
             |          / n2::DOUBLE)
             |        / (h2::DOUBLE * (h2::DOUBLE - 1.0)))
             |    / (pow((sww1::DOUBLE - sw1::DOUBLE * sw1::DOUBLE
             |          / n1::DOUBLE)
             |        / (h1::DOUBLE * (h1::DOUBLE - 1.0)), 2.0)
             |        / (h1::DOUBLE - 1.0)
             |      + pow((sww2::DOUBLE - sw2::DOUBLE * sw2::DOUBLE
             |          / n2::DOUBLE)
             |        / (h2::DOUBLE * (h2::DOUBLE - 1.0)), 2.0)
             |        / (h2::DOUBLE - 1.0)) END, 2) AS df
             |FROM p""".stripMargin)),

    // Shapiro–Francia normality test (Shapiro & Francia 1972) of
    // daily revenue: W′ = corr(y₍ᵢ₎, mᵢ)² against Blom normal scores
    // mᵢ = Φ⁻¹((i−3/8)/(n+1/4)). Neither engine has a probit, so
    // Φ⁻¹ is the SHARED Acklam rational literal (the Lanczos-Γ
    // precedent — no builtin, no ulp drift), quantized to 9 dp per
    // order statistic; all cross sums are exact DECIMAL/BIGINT and
    // only the final ratio is a double. Order statistics ride the
    // ≤366-row calendar digest; tied revenues contribute identically
    // under any tie order because their y values are equal.
    QueryDef("q_shapiro_francia",
      (s, d) => {
        val daily = graft.sources.Tables.events(s, d)
          .groupBy(to_date(col("ts")).as("day"))
          .agg((sum(col("value").cast("decimal(18,2)")) * lit(100))
            .cast("long").as("y"))
          .withColumn("i", row_number().over(
            Window.orderBy(col("y"), col("day"))))
        val n = broadcast(daily.agg(count(lit(1)).as("n")))
        val pExpr = "(cast(i as double) - 0.375)" +
          " / (cast(n as double) + 0.25)"
        daily.crossJoin(n)
          .withColumn("m", expr(
            s"cast(round(${graft.analytics.Stats.probitSql(pExpr)}, 9) as decimal(12,9))"))
          .agg(max(col("n")).as("nd"),
            sum(col("m") * col("y").cast("decimal(12,0)")).as("smy"),
            sum((col("m") * col("m")).cast("decimal(38,18)")).as("smm"),
            sum(col("y")).as("sy"),
            sum(col("y").cast("decimal(38,0)") * col("y")).as("syy"))
          .select(col("nd").as("n_days"),
            round(expr(
              """cast(smy as double) * cast(smy as double)
                |/ nullif(cast(smm as double)
                |  * (cast(syy as double) - cast(sy as double)
                |     * cast(sy as double) / cast(nd as double)), 0.0)"""
                .stripMargin), 6).as("w_prime"))
      },
      Some {
        val pExpr = "(i::DOUBLE - 0.375) / (n::DOUBLE + 0.25)"
        s"""WITH daily AS (SELECT ts::DATE AS day,
           |    (sum(CAST(value AS DECIMAL(18,2))) * 100)::BIGINT AS y
           |  FROM events GROUP BY 1),
           |rk AS (SELECT y,
           |    row_number() OVER (ORDER BY y, day) AS i FROM daily),
           |nn AS (SELECT count(*)::BIGINT AS n FROM rk),
           |m AS (SELECT y,
           |    round(${graft.analytics.Stats.probitSql(pExpr)}, 9)::DECIMAL(12,9) AS m
           |  FROM rk, nn),
           |a AS (SELECT max(nn.n)::BIGINT AS nd,
           |    sum(m.m * m.y::DECIMAL(12,0)) AS smy,
           |    sum((m.m::DECIMAL(19,9) * m.m)::DECIMAL(38,18)) AS smm,
           |    sum(m.y)::BIGINT AS sy, sum(m.y::HUGEINT * m.y) AS syy
           |  FROM m, nn)
           |SELECT nd AS n_days,
           |  round(smy::DOUBLE * smy::DOUBLE
           |    / nullif(smm::DOUBLE * (syy::DOUBLE
           |      - sy::DOUBLE * sy::DOUBLE / nd::DOUBLE), 0.0), 6)
           |    AS w_prime
           |FROM a""".stripMargin
      }),

    // Two-sample energy distance (Székely & Rizzo 2004) between the
    // label-0 and label-1 embedding clouds: 2·E|X−Y| − E|X−X′| −
    // E|Y−Y′| with every pair distance rounded ONCE to 1e-6 off the
    // exact integer d² (the emb_silhouette rule), so all three sums
    // are exact BIGINTs and the U-statistic means divide once at the
    // end. The distribution-level two-sample test beside the kernel
    // MMD pair — zero iff the clouds coincide. Bounded to the ≤512
    // audit slice like the other pairwise emb diagnostics.
    QueryDef("emb_energy_distance",
      (s, d) => {
        val xq = transform(slice(col("embedding"), 1, 16),
          x => round(x.cast("double") * 1000, 0).cast("long"))
        val v = graft.sources.Tables.load(s, d, "embeddings")
          .filter(col("vec_id") < 512 && col("label").isin(0, 1))
          .select(col("vec_id"), col("label"), xq.as("q"))
        def dE6 = round(sqrt(expr(
          "aggregate(zip_with(q, q2, (u, v) -> (u - v) * (u - v)), " +
            "0L, (acc, e) -> acc + e)").cast("double")) * 1000000, 0)
          .cast("long")
        val pairs = v.join(
            v.select(col("vec_id").as("v2"), col("label").as("l2"),
              col("q").as("q2")),
            col("vec_id") < col("v2"))
          .select(col("label"), col("l2"), dE6.as("de6"))
        pairs.agg(
            sum(when(col("label") =!= col("l2"), col("de6"))).as("sxy"),
            sum(when(col("label") === 0 && col("l2") === 0, col("de6")))
              .as("sxx"),
            sum(when(col("label") === 1 && col("l2") === 1, col("de6")))
              .as("syy"),
            sum(when(col("label") =!= col("l2"), 1L).otherwise(0L))
              .as("nxy"))
          .crossJoin(broadcast(v.groupBy()
            .agg(sum(when(col("label") === 0, 1L).otherwise(0L)).as("nx"),
              sum(when(col("label") === 1, 1L).otherwise(0L)).as("ny"))))
          .select(col("nx"), col("ny"),
            round(expr(
              """(2.0 * cast(sxy as double)
                |    / (cast(nx as double) * cast(ny as double))
                |  - 2.0 * cast(sxx as double)
                |    / nullif(cast(nx as double)
                |       * (cast(nx as double) - 1.0), 0.0)
                |  - 2.0 * cast(syy as double)
                |    / nullif(cast(ny as double)
                |       * (cast(ny as double) - 1.0), 0.0)) / 1e6"""
                .stripMargin), 6).as("e_dist"),
            round(expr(
              """cast(sxy as double)
                |/ (cast(nx as double) * cast(ny as double)) / 1e6"""
                .stripMargin), 6).as("mean_cross"))
      },
      Some("""WITH v AS (SELECT vec_id, label,
             |    list_transform(embedding[1:16],
             |      x -> round(x::DOUBLE * 1000)::BIGINT) AS q
             |  FROM embeddings
             |  WHERE vec_id < 512 AND label IN (0, 1)),
             |p AS (SELECT a.label, b.label AS l2,
             |    round(sqrt(list_sum(list_transform(range(1, 17),
             |      i -> (a.q[i] - b.q[i]) * (a.q[i] - b.q[i])))::DOUBLE)
             |      * 1000000)::BIGINT AS de6
             |  FROM v a JOIN v b ON a.vec_id < b.vec_id),
             |s AS (SELECT
             |    sum(CASE WHEN label != l2 THEN de6 END)::BIGINT AS sxy,
             |    sum(CASE WHEN label = 0 AND l2 = 0 THEN de6 END)
             |      ::BIGINT AS sxx,
             |    sum(CASE WHEN label = 1 AND l2 = 1 THEN de6 END)
             |      ::BIGINT AS syy
             |  FROM p),
             |c AS (SELECT
             |    sum(CASE WHEN label = 0 THEN 1 ELSE 0 END)::BIGINT AS nx,
             |    sum(CASE WHEN label = 1 THEN 1 ELSE 0 END)::BIGINT AS ny
             |  FROM v)
             |SELECT nx, ny,
             |  round((2.0 * sxy::DOUBLE / (nx::DOUBLE * ny::DOUBLE)
             |    - 2.0 * sxx::DOUBLE
             |      / nullif(nx::DOUBLE * (nx::DOUBLE - 1.0), 0.0)
             |    - 2.0 * syy::DOUBLE
             |      / nullif(ny::DOUBLE * (ny::DOUBLE - 1.0), 0.0))
             |    / 1e6, 6) AS e_dist,
             |  round(sxy::DOUBLE / (nx::DOUBLE * ny::DOUBLE) / 1e6, 6)
             |    AS mean_cross
             |FROM s, c""".stripMargin)),

    // Newey–West HAC standard error (Newey & West 1987) of the mean
    // daily revenue with the Bartlett kernel at lag 5 — the
    // autocorrelation-robust uncertainty an iid s/√n understates on a
    // trending series. Centered products use the exact integer
    // identity e_t = n·y_t − Σy, and the kernel-weighted long-run
    // variance is assembled as ONE exact decimal 6·S₀ + 2Σ(6−k)·S_k
    // (the rational Bartlett weights cleared by ×6), so the only
    // doubles are the final square roots. The ≤6-lag self-join rides
    // the calendar digest.
    QueryDef("q_newey_west",
      (s, d) => {
        val daily = graft.sources.Tables.events(s, d)
          .groupBy(to_date(col("ts")).as("day"))
          .agg((sum(col("value").cast("decimal(18,2)")) * lit(100))
            .cast("long").as("y"))
          .withColumn("t", row_number().over(Window.orderBy(col("day")))
            - 1)
        val g = broadcast(daily.agg(count(lit(1)).as("n"),
          sum(col("y")).as("sy")))
        val e = daily.crossJoin(g)
          .select(col("t"), (col("n") * col("y") - col("sy")).as("e"),
            col("n"), col("sy"))
        val lags = e.join(
            e.select(col("t").as("t2"), col("e").as("e2")),
            col("t2") >= col("t") - 5 && col("t2") <= col("t"))
          .withColumn("k", col("t") - col("t2"))
          .withColumn("w", when(col("k") === 0, lit(6L))
            .otherwise((lit(6L) - col("k")) * 2))
          .agg(max(col("n")).as("n"),
            sum((col("w").cast("decimal(38,0)") * col("e") * col("e2")))
              .as("tsum"),
            sum(when(col("k") === 0,
              col("e").cast("decimal(38,0)") * col("e"))).as("s0"),
            max(col("sy")).as("sy"))
        lags.select(col("n").as("n_days"),
            round(expr("cast(sy as double) / cast(n as double) / 100.0"),
              4).as("mean_rev"),
            round(expr(
              """sqrt(cast(s0 as double)
                |  / (cast(n as double) * cast(n as double)
                |     * (cast(n as double) - 1.0))
                |  / cast(n as double)) / 100.0""".stripMargin), 4)
              .as("se_iid"),
            round(expr(
              """sqrt(cast(tsum as double)
                |  / (6.0 * cast(n as double) * cast(n as double)
                |     * cast(n as double))
                |  / cast(n as double)) / 100.0""".stripMargin), 4)
              .as("se_hac"),
            round(expr(
              """sqrt(cast(tsum as double) * (cast(n as double) - 1.0)
                |  / nullif(6.0 * cast(s0 as double)
                |           * cast(n as double), 0.0))"""
                .stripMargin), 4).as("hac_over_iid"))
      },
      Some("""WITH daily AS (SELECT ts::DATE AS day,
             |    (sum(CAST(value AS DECIMAL(18,2))) * 100)::BIGINT AS y
             |  FROM events GROUP BY 1),
             |idx AS (SELECT y,
             |    row_number() OVER (ORDER BY day) - 1 AS t FROM daily),
             |g AS (SELECT count(*)::BIGINT AS n, sum(y)::BIGINT AS sy
             |  FROM idx),
             |e AS (SELECT t, n * y - sy AS e, n, sy FROM idx, g),
             |l AS (SELECT a.n, a.sy, a.t - b.t AS k, a.e, b.e AS e2
             |  FROM e a JOIN e b ON b.t >= a.t - 5 AND b.t <= a.t),
             |agg AS (SELECT max(n)::BIGINT AS n, max(sy)::BIGINT AS sy,
             |    sum((CASE WHEN k = 0 THEN 6 ELSE (6 - k) * 2 END)
             |      ::HUGEINT * e * e2) AS tsum,
             |    sum(CASE WHEN k = 0 THEN e::HUGEINT * e END) AS s0
             |  FROM l)
             |SELECT n AS n_days,
             |  round(sy::DOUBLE / n::DOUBLE / 100.0, 4) AS mean_rev,
             |  round(sqrt(s0::DOUBLE
             |    / (n::DOUBLE * n::DOUBLE * (n::DOUBLE - 1.0))
             |    / n::DOUBLE) / 100.0, 4) AS se_iid,
             |  round(sqrt(tsum::DOUBLE
             |    / (6.0 * n::DOUBLE * n::DOUBLE * n::DOUBLE)
             |    / n::DOUBLE) / 100.0, 4) AS se_hac,
             |  round(sqrt(tsum::DOUBLE * (n::DOUBLE - 1.0)
             |    / nullif(6.0 * s0::DOUBLE * n::DOUBLE, 0.0)), 4)
             |    AS hac_over_iid
             |FROM agg""".stripMargin)),

    // XYZ demand-variability classification (the companion axis to
    // q_abc_analysis in inventory segmentation): per brand, the
    // coefficient of variation of WEEKLY demand — with silent weeks
    // as real zeros via the brand × week spine — classes X (CV ≤ ½),
    // Y (CV ≤ 1), Z. Every class decision is the cross-multiplied
    // integer inequality 4·(nΣq²−S²) ≤ nS² / (nΣq²−S²) ≤ nS² — no
    // float CV compare anywhere; the published per-class tallies and
    // ppm shares are integers.
    QueryDef("q_xyz_analysis",
      (s, d) => {
        val li = graft.sources.Tables.load(s, d, "lineitem")
          .join(graft.sources.Tables.load(s, d, "orders")
            .select(col("o_orderkey"), col("o_orderdate")),
            col("l_orderkey") === col("o_orderkey"))
          .join(graft.sources.Tables.load(s, d, "part")
            .select(col("p_partkey"), col("p_brand")),
            col("l_partkey") === col("p_partkey"))
          .select(col("p_brand").as("brand"),
            floor(datediff(col("o_orderdate"), lit("1992-01-01")) / 7)
              .cast("long").as("wk"),
            col("l_quantity").cast("long").as("q"))
        val demand = li.groupBy(col("brand"), col("wk"))
          .agg(sum(col("q")).as("qw"))
        val weeks = broadcast(demand.agg(min(col("wk")).as("w0"),
          max(col("wk")).as("w1")))
        val brands = demand.select(col("brand")).distinct()
        val spine = brands.crossJoin(weeks)
          .select(col("brand"), explode(expr("sequence(w0, w1)")).as("wk"))
        val cells = spine.join(demand, Seq("brand", "wk"), "left")
          .select(col("brand"), col("wk"),
            coalesce(col("qw"), lit(0L)).as("qw"))
        val stats = cells.groupBy(col("brand"))
          .agg(count(lit(1)).as("nw"), sum(col("qw")).as("sq"),
            sum(col("qw").cast("decimal(38,0)") * col("qw")).as("sqq"))
          .withColumn("v", expr(
            "cast(nw as decimal(38,0)) * sqq" +
              " - cast(sq as decimal(38,0)) * sq"))
          .withColumn("s2", expr(
            "cast(sq as decimal(38,0)) * sq"))
          .withColumn("cls",
            when(col("v") * 4 <= col("s2"), "X")
              .when(col("v") <= col("s2"), "Y").otherwise("Z"))
        val tot = broadcast(stats.agg(count(lit(1)).as("nb")))
        stats.groupBy(col("cls")).agg(count(lit(1)).as("n_brands"))
          .crossJoin(tot)
          .select(col("cls").as("xyz_class"), col("n_brands"),
            expr("n_brands * 1000000 div nb").as("share_ppm"))
          .orderBy(col("xyz_class"))
      },
      Some("""WITH li AS (SELECT p_brand AS brand,
             |    floor(datediff('day', DATE '1992-01-01', o_orderdate)
             |      / 7)::BIGINT AS wk,
             |    l_quantity::BIGINT AS q
             |  FROM lineitem
             |  JOIN orders ON l_orderkey = o_orderkey
             |  JOIN part ON l_partkey = p_partkey),
             |demand AS (SELECT brand, wk, sum(q)::BIGINT AS qw
             |  FROM li GROUP BY 1, 2),
             |wr AS (SELECT min(wk) AS w0, max(wk) AS w1 FROM demand),
             |spine AS (SELECT b.brand, unnest(generate_series(w0, w1))
             |    AS wk
             |  FROM (SELECT DISTINCT brand FROM demand) b, wr),
             |cells AS (SELECT spine.brand, spine.wk,
             |    coalesce(demand.qw, 0)::BIGINT AS qw
             |  FROM spine LEFT JOIN demand USING (brand, wk)),
             |st AS (SELECT brand, count(*)::BIGINT AS nw,
             |    sum(qw)::BIGINT AS sq, sum(qw::HUGEINT * qw) AS sqq
             |  FROM cells GROUP BY 1),
             |cls AS (SELECT brand,
             |    CASE WHEN (nw::HUGEINT * sqq - sq::HUGEINT * sq) * 4
             |        <= sq::HUGEINT * sq THEN 'X'
             |      WHEN nw::HUGEINT * sqq - sq::HUGEINT * sq
             |        <= sq::HUGEINT * sq THEN 'Y'
             |      ELSE 'Z' END AS xyz_class
             |  FROM st),
             |tot AS (SELECT count(*)::BIGINT AS nb FROM cls)
             |SELECT xyz_class, count(*)::BIGINT AS n_brands,
             |  (count(*) * 1000000 // max(nb))::BIGINT AS share_ppm
             |FROM cls, tot GROUP BY xyz_class
             |ORDER BY xyz_class""".stripMargin)),

    // E-divisive energy changepoint (Matteson & James 2014): the
    // split τ of the daily revenue series maximizing the scaled
    // energy distance Q(τ) = mn/(m+n)·E(τ) between the two segments —
    // the distribution-free changepoint next to the mean-based
    // q_binseg_depth2 and rank-based q_pettitt_changepoint. The
    // three per-τ pair sums (within-left, within-right, cross) come
    // from ONE pass over the ≤C(366,2) pair digest via a DIFFERENCE
    // ARRAY: each pair (i<j) adds +|Δ| at τ=i and −|Δ| at τ=j, so a
    // single prefix sum yields every τ's cross total — O(pairs), no
    // τ×pairs blow-up — and within-right is the exact complement.
    // All sums are exact BIGINTs; the argmax is decided on the final
    // doubles with identical spelling (ties → earliest τ).
    QueryDef("q_energy_changepoint",
      (s, d) => {
        val daily = graft.sources.Tables.events(s, d)
          .groupBy(to_date(col("ts")).as("day"))
          .agg((sum(col("value").cast("decimal(18,2)")) * lit(100))
            .cast("long").as("y"))
          .withColumn("t", row_number().over(Window.orderBy(col("day")))
            - 1)
        val g = broadcast(daily.agg(count(lit(1)).as("nn")))
        val pairs = daily.select(col("t").as("i"), col("y").as("yi"))
          .join(daily.select(col("t").as("j"), col("y").as("yj")),
            col("i") < col("j"))
          .select(col("i"), col("j"), abs(col("yi") - col("yj")).as("dd"))
        val deltas = pairs.select(explode(array(
            struct(col("i").as("tau"), col("dd").as("dc"),
              lit(0L).as("daa")),
            struct(col("j").as("tau"), (-col("dd")).as("dc"),
              col("dd").as("daa")))).as("e"))
          .select(col("e.tau"), col("e.dc"), col("e.daa"))
          .groupBy(col("tau"))
          .agg(sum(col("dc")).as("dc"), sum(col("daa")).as("daa"))
          .withColumn("scross", sum(col("dc")).over(
            Window.orderBy(col("tau"))
              .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
          .withColumn("saa", sum(col("daa")).over(
            Window.orderBy(col("tau"))
              .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        val tot = broadcast(pairs.agg(sum(col("dd")).as("tall")))
        val scored = deltas.crossJoin(g).crossJoin(tot)
          .filter(col("tau") >= 1 && col("tau") <= col("nn") - 3)
          .withColumn("m", col("tau") + 1)
          .withColumn("nb", col("nn") - col("tau") - 1)
          .withColumn("sbb", col("tall") - col("saa") - col("scross"))
          .withColumn("e", expr(
            """2.0 * cast(scross as double)
              |  / (cast(m as double) * cast(nb as double))
              |- 2.0 * cast(saa as double)
              |  / (cast(m as double) * (cast(m as double) - 1.0))
              |- 2.0 * cast(sbb as double)
              |  / (cast(nb as double) * (cast(nb as double) - 1.0))"""
              .stripMargin))
          .withColumn("q", expr(
            """cast(m as double) * cast(nb as double)
              |/ (cast(m as double) + cast(nb as double))"""
              .stripMargin) * col("e"))
          .withColumn("rk", row_number().over(
            Window.orderBy(col("q").desc, col("tau"))))
          .filter(col("rk") === 1)
        scored.join(daily.select(col("t").as("tau"),
            col("day").cast("string").as("split_day")), Seq("tau"))
          .select(col("nn").as("n_days"),
            col("tau").cast("long").as("tau_idx"),
            col("split_day"), col("m").cast("long").as("n_left"),
            col("nb").cast("long").as("n_right"),
            round(col("e") / 100.0, 6).as("e_stat"),
            round(col("q") / 100.0, 4).as("q_stat"))
      },
      Some("""WITH daily AS (SELECT ts::DATE AS day,
             |    (sum(CAST(value AS DECIMAL(18,2))) * 100)::BIGINT AS y
             |  FROM events GROUP BY 1),
             |idx AS (SELECT day, y,
             |    row_number() OVER (ORDER BY day) - 1 AS t FROM daily),
             |g AS (SELECT count(*)::BIGINT AS nn FROM idx),
             |p AS (SELECT a.t AS i, b.t AS j, abs(a.y - b.y)::BIGINT
             |      AS dd
             |  FROM idx a JOIN idx b ON a.t < b.t),
             |del AS (SELECT tau, sum(dc)::BIGINT AS dc,
             |    sum(daa)::BIGINT AS daa FROM (
             |  SELECT i AS tau, dd AS dc, 0 AS daa FROM p
             |  UNION ALL SELECT j, -dd, dd FROM p) GROUP BY 1),
             |cum AS (SELECT tau,
             |    sum(dc) OVER (ORDER BY tau
             |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
             |      ::BIGINT AS scross,
             |    sum(daa) OVER (ORDER BY tau
             |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
             |      ::BIGINT AS saa
             |  FROM del),
             |tall AS (SELECT sum(dd)::BIGINT AS tall FROM p),
             |sc AS (SELECT tau, tau + 1 AS m, nn - tau - 1 AS nb, nn,
             |    scross, saa, tall - saa - scross AS sbb
             |  FROM cum, g, tall
             |  WHERE tau >= 1 AND tau <= nn - 3),
             |e AS (SELECT *,
             |    2.0 * scross::DOUBLE / (m::DOUBLE * nb::DOUBLE)
             |    - 2.0 * saa::DOUBLE / (m::DOUBLE * (m::DOUBLE - 1.0))
             |    - 2.0 * sbb::DOUBLE / (nb::DOUBLE * (nb::DOUBLE - 1.0))
             |      AS ee
             |  FROM sc),
             |q AS (SELECT *,
             |    m::DOUBLE * nb::DOUBLE / (m::DOUBLE + nb::DOUBLE) * ee
             |      AS qq,
             |    row_number() OVER (ORDER BY m::DOUBLE * nb::DOUBLE
             |      / (m::DOUBLE + nb::DOUBLE) * ee DESC, tau) AS rk
             |  FROM e)
             |SELECT q.nn AS n_days, q.tau AS tau_idx,
             |  idx.day::VARCHAR AS split_day, q.m AS n_left,
             |  q.nb AS n_right,
             |  round(q.ee / 100.0, 6) AS e_stat,
             |  round(q.qq / 100.0, 4) AS q_stat
             |FROM q JOIN idx ON idx.t = q.tau WHERE q.rk = 1"""
          .stripMargin))
  )
}
