package graft.queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Round-11 session-4, continued: signal-complexity descriptors
  * (Hjorth parameters, spectral entropy/flatness, Higuchi fractal
  * dimension, Yule-Walker AR(2)), homogeneity/changepoint tests
  * (Pettitt, SNHT+Buishand, binary segmentation, Bartels rank),
  * forecast-evaluation panel (empirical CRPS, Diebold-Mariano,
  * Pesaran-Timmermann), heteroskedastic inference (Welch ANOVA,
  * Hotelling T², Dunn post-hoc, Poisson GOF + count-model fits),
  * graph kernels (Katz, k-truss, Adamic-Adar, association rules),
  * and spatial/point-process kernels (Getis-Ord Gi*, temporal
  * Ripley K, visibility graph, recurrence quantification).
  *
  * Reference scope: the reference app (reference `app.py:139-200`)
  * publishes descriptive analytics over sensor channels; these are
  * the signal-health and drift diagnostics a long-running
  * multi-sensor fleet reports over the same digests. Every kernel
  * follows the repo determinism discipline: facts collapse to
  * calendar/value digests in ONE map-side-combined pass, integer or
  * DECIMAL exact arithmetic until the final projection,
  * transcendentals quantized to the 1e-9 grid before any
  * cross-group sum, final doubles round(…,4..6).
  */
object R13Queries {

  /** Γ(z) as a Lanczos(g=7) SQL expression — the SAME string feeds
    * Spark's `expr` and the DuckDB oracle, so the transcendental is
    * bit-identical on both engines (neither engine's builtin is used:
    * Spark has no gamma(), and DuckDB's would differ in ulps). Valid
    * for z ≥ 0.5, which covers the GEV use (z = 1 + k, |k| < 0.5). */
  private def gammaSql(z: String): String = {
    val c = Seq(
      "676.5203681218851", "-1259.1392167224028", "771.32342877765313",
      "-176.61502916214059", "12.507343278686905",
      "-0.13857109526572012", "9.9843695780195716e-6",
      "1.5056327351493116e-7")
    val a = c.zipWithIndex
      .map { case (ci, i) => s"($ci) / (($z) + $i)" }
      .mkString("0.99999999999980993 + ", " + ", "")
    s"(sqrt(2.0 * 3.141592653589793) * pow(($z) + 6.5, ($z) - 0.5)" +
      s" * exp(-(($z) + 6.5)) * ($a))"
  }

  val defs: Seq[QueryDef] = Seq(

    // Hjorth parameters (Hjorth 1970) — activity/mobility/complexity,
    // THE classical time-domain EEG/IMU channel descriptors, computed
    // on the daily event-count series. One shuffle to the calendar
    // digest; first and second differences via lag windows over the
    // digest (never over facts); each series' variance comes from
    // exact integer (n, Σx, Σx²) so the three variances are
    // order-independent. Population variances; doubles only in the
    // final projection. 100 TB: the only data-sized pass is the
    // groupBy(day) count — everything after is ≤ calendar rows.
    QueryDef("q_hjorth_params",
      (s, d) => {
        val daily = graft.sources.Tables.events(s, d)
          .groupBy(to_date(col("ts")).as("day"))
          .agg(count(lit(1)).as("y"))
        val w = Window.orderBy(col("day"))
        val diffed = daily
          .withColumn("d1", col("y") - lag(col("y"), 1).over(w))
          .withColumn("d2", col("d1") - lag(col("d1"), 1).over(w))
        def popVar(x: String, n: String, sx: String, qx: String) = Seq(
          count(col(x)).as(n),
          sum(col(x).cast("decimal(38,0)")).as(sx),
          sum(col(x).cast("decimal(38,0)") * col(x)).as(qx))
        val aggs = popVar("y", "n0", "s0", "q0") ++
          popVar("d1", "n1", "s1", "q1") ++
          popVar("d2", "n2", "s2", "q2")
        val g = diffed.agg(aggs.head, aggs.tail: _*)
        def v(n: String, sx: String, qx: String) =
          (col(qx).cast("double") -
            col(sx).cast("double") * col(sx).cast("double") /
              col(n).cast("double")) / col(n).cast("double")
        // ANSI Spark throws on double ÷ 0 (DuckDB yields inf): a
        // constant-increment series has var(d1) = 0 — nullif-guard so
        // the degenerate case is NULL on both engines
        g.select(col("n0").as("n_days"),
            v("n0", "s0", "q0").as("v0"), v("n1", "s1", "q1").as("v1"),
            v("n2", "s2", "q2").as("v2"))
          .select(col("n_days"),
            round(col("v0"), 4).as("activity"),
            round(sqrt(col("v1") / nullif(col("v0"), lit(0.0))), 6)
              .as("mobility"),
            round(sqrt(col("v2") / nullif(col("v1"), lit(0.0))) /
              sqrt(col("v1") / nullif(col("v0"), lit(0.0))), 6)
              .as("complexity"))
      },
      Some("""WITH daily AS (SELECT ts::DATE AS day, count(*)::BIGINT AS y
             |  FROM events GROUP BY 1),
             |d1s AS (SELECT day, y,
             |    y - lag(y) OVER (ORDER BY day) AS d1 FROM daily),
             |diffed AS (SELECT y, d1,
             |    d1 - lag(d1) OVER (ORDER BY day) AS d2 FROM d1s),
             |g AS (SELECT
             |    count(y)::BIGINT AS n0, sum(y)::HUGEINT AS s0,
             |    sum(y::HUGEINT * y)::HUGEINT AS q0,
             |    count(d1)::BIGINT AS n1, sum(d1)::HUGEINT AS s1,
             |    sum(d1::HUGEINT * d1)::HUGEINT AS q1,
             |    count(d2)::BIGINT AS n2, sum(d2)::HUGEINT AS s2,
             |    sum(d2::HUGEINT * d2)::HUGEINT AS q2
             |  FROM diffed),
             |vv AS (SELECT n0,
             |    (q0::DOUBLE - s0::DOUBLE * s0::DOUBLE / n0::DOUBLE)
             |      / n0::DOUBLE AS v0,
             |    (q1::DOUBLE - s1::DOUBLE * s1::DOUBLE / n1::DOUBLE)
             |      / n1::DOUBLE AS v1,
             |    (q2::DOUBLE - s2::DOUBLE * s2::DOUBLE / n2::DOUBLE)
             |      / n2::DOUBLE AS v2
             |  FROM g)
             |SELECT n0 AS n_days, round(v0, 4) AS activity,
             |  round(sqrt(v1 / nullif(v0, 0.0)), 6) AS mobility,
             |  round(sqrt(v2 / nullif(v1, 0.0))
             |    / sqrt(v1 / nullif(v0, 0.0)), 6) AS complexity
             |FROM vv""".stripMargin)),

    // Spectral entropy + Wiener spectral flatness of the daily series
    // over the Schuster periodogram's 13 candidate periods (2..14 d) —
    // the "how peaked is the rhythm" companion to q_periodogram. The
    // per-period powers reuse the EXACT integer mean-centering
    // c_t = n·y_t − Σy and 6dp-quantized trig terms summed as DECIMAL
    // (identical to q_periodogram, so power parity is already proven);
    // the cross-period entropy/flatness sums quantize each ln term to
    // the 1e-9 grid before the DECIMAL sum (order-independence rule).
    // Entropy is normalized by ln(13) to [0,1]. 13-row digest algebra.
    QueryDef("q_spectral_entropy",
      (s, d) => {
        val daily = graft.sources.Tables.events(s, d)
          .groupBy(to_date(col("ts")).as("day"))
          .agg(count(lit(1)).as("y"))
          .withColumn("t",
            (row_number().over(Window.orderBy(col("day"))) - 1)
              .cast("long"))
        val g = broadcast(daily.agg(count(lit(1)).as("n"),
          sum(col("y")).as("sy")))
        val c = daily.crossJoin(g)
          .select(col("t"), col("n"),
            (col("n") * col("y") - col("sy")).as("c"))
        val terms = c.crossJoin(broadcast(s.range(2, 15).toDF("p")))
          .select(col("p"), col("n"),
            expr("""cast(round(cast(c as double) * cos(
              |  2.0 * 3.141592653589793 * cast(t % p as double)
              |  / cast(p as double)), 6) as decimal(38,6))"""
              .stripMargin).as("tc"),
            expr("""cast(round(cast(c as double) * sin(
              |  2.0 * 3.141592653589793 * cast(t % p as double)
              |  / cast(p as double)), 6) as decimal(38,6))"""
              .stripMargin).as("ts"))
        val pw = terms.groupBy(col("p"))
          .agg(max(col("n")).as("n"),
            sum(col("tc")).as("sc"), sum(col("ts")).as("ss"))
          .select(col("p"),
            // same final-power expression tree as q_periodogram →
            // bit-identical doubles on both engines
            ((col("sc").cast("double") * col("sc").cast("double") +
              col("ss").cast("double") * col("ss").cast("double")) /
              (col("n").cast("double") * col("n").cast("double") *
                col("n").cast("double"))).as("pw"))
        val tot = pw.agg(
          count(lit(1)).as("k"),
          sum(col("pw").cast("decimal(38,6)")).as("tp"),
          sum(expr("cast(round(ln(pw), 9) as decimal(38,9))")).as("slnp"))
        pw.crossJoin(broadcast(tot))
          .select(
            expr("""cast(round(pw / cast(tp as double)
              |  * ln(pw / cast(tp as double)), 9)
              |  as decimal(38,9))""".stripMargin).as("ent_term"),
            col("k"), col("tp"), col("slnp"))
          .groupBy(col("k"), col("tp"), col("slnp"))
          .agg(sum(col("ent_term")).as("sent"))
          .select(col("k").as("n_periods"),
            round(-col("sent").cast("double") /
              log(col("k").cast("double")), 6).as("spectral_entropy"),
            round(
              exp(col("slnp").cast("double") / col("k").cast("double")) /
                (col("tp").cast("double") / col("k").cast("double")), 6)
              .as("spectral_flatness"))
      },
      Some("""WITH daily AS (SELECT day,
             |    row_number() OVER (ORDER BY day) - 1 AS t, y FROM (
             |    SELECT ts::DATE AS day, count(*)::BIGINT AS y
             |    FROM events GROUP BY 1)),
             |g AS (SELECT count(*)::BIGINT AS n, sum(y)::BIGINT AS sy
             |  FROM daily),
             |c AS (SELECT daily.t, g.n, g.n * daily.y - g.sy AS c
             |  FROM daily, g),
             |p AS (SELECT unnest(generate_series(2, 14))::BIGINT AS p),
             |terms AS (SELECT p.p, c.n,
             |    round(c.c::DOUBLE * cos(2.0 * 3.141592653589793
             |      * (c.t % p.p)::DOUBLE / p.p::DOUBLE), 6)
             |      ::DECIMAL(38,6) AS tc,
             |    round(c.c::DOUBLE * sin(2.0 * 3.141592653589793
             |      * (c.t % p.p)::DOUBLE / p.p::DOUBLE), 6)
             |      ::DECIMAL(38,6) AS ts
             |  FROM c, p),
             |pw AS (SELECT p, (sc::DOUBLE * sc::DOUBLE
             |      + ss::DOUBLE * ss::DOUBLE)
             |    / (n::DOUBLE * n::DOUBLE * n::DOUBLE) AS pw FROM (
             |    SELECT p, max(n)::BIGINT AS n, sum(tc) AS sc,
             |      sum(ts) AS ss FROM terms GROUP BY 1)),
             |tot AS (SELECT count(*)::BIGINT AS k,
             |    sum(pw::DECIMAL(38,6)) AS tp,
             |    sum(round(ln(pw), 9)::DECIMAL(38,9)) AS slnp FROM pw),
             |ent AS (SELECT tot.k, tot.tp, tot.slnp,
             |    sum(round(pw.pw / tot.tp::DOUBLE
             |        * ln(pw.pw / tot.tp::DOUBLE), 9)::DECIMAL(38,9))
             |      AS sent
             |  FROM pw, tot GROUP BY 1, 2, 3)
             |SELECT k AS n_periods,
             |  round(-sent::DOUBLE / ln(k::DOUBLE), 6)
             |    AS spectral_entropy,
             |  round(exp(slnp::DOUBLE / k::DOUBLE)
             |    / (tp::DOUBLE / k::DOUBLE), 6) AS spectral_flatness
             |FROM ent""".stripMargin)),

    // Higuchi fractal dimension (Higuchi 1988) of the daily series,
    // k = 1..4 — the roughness exponent IMU pipelines report next to
    // Allan variance. The k-lag curve lengths need |y_{t} − y_{t−k}|
    // for every phase m: ONE self-join of the calendar digest shifted
    // by k (t2 = t1 + k), phase m = t1 % k — exact integer Σ|Δ| per
    // (k, m). L(m,k) normalization and the per-k mean happen in
    // 1e-9-quantized DECIMAL; FD is the negated OLS slope of ln L(k)
    // on ln k over 4 points, closed form on quantized ln terms.
    QueryDef("q_higuchi_fd",
      (s, d) => {
        val daily = graft.sources.Tables.events(s, d)
          .groupBy(to_date(col("ts")).as("day"))
          .agg(count(lit(1)).as("y"))
          .withColumn("t",
            (row_number().over(Window.orderBy(col("day"))) - 1)
              .cast("long"))
        val n = broadcast(daily.agg(count(lit(1)).as("n")))
        val ks = broadcast(s.range(1, 5).toDF("k"))
        val pairs = daily.as("a").crossJoin(ks)
          .join(daily.as("b"),
            col("b.t") === col("a.t") + col("k"))
          .select(col("k"), (col("a.t") % col("k")).as("m"),
            abs(col("b.y") - col("a.y")).as("ad"))
        val lmk = pairs.groupBy(col("k"), col("m"))
          .agg(sum(col("ad")).as("sad"), count(lit(1)).as("nk"))
          .crossJoin(n)
          // L(m,k) = Σ|Δ| · (n−1) / (nk·k) / k, quantized before the
          // per-k mean so the m-sum is order-independent
          .select(col("k"),
            expr("""cast(round(cast(sad as double)
              |  * cast(n - 1 as double)
              |  / (cast(nk as double) * cast(k as double))
              |  / cast(k as double), 9) as decimal(38,9))"""
              .stripMargin).as("lmk"))
        val lk = lmk.groupBy(col("k"))
          .agg(sum(col("lmk")).as("slm"), count(lit(1)).as("nm"))
          // lx ≤ ln 4, |ly| < 1e3: tight decimals so the lx·ly /
          // lx·lx products stay EXACT (a (38,9)×(38,9) product
          // overflows precision 38 and the engines truncate
          // differently — caught at the sf0.01 gate)
          .select(col("k"),
            expr("cast(round(ln(cast(k as double)), 9) as decimal(10,9))")
              .as("lx"),
            expr("""cast(round(ln(cast(slm as double)
              |  / cast(nm as double)), 9) as decimal(13,9))"""
              .stripMargin).as("ly"))
        lk.agg(count(lit(1)).as("kk"),
            sum(col("lx")).as("sx"), sum(col("ly")).as("sy"),
            sum(col("lx") * col("ly")).as("sxy"),
            sum(col("lx") * col("lx")).as("sxx"))
          .select(col("kk").as("n_scales"),
            round(-(col("kk").cast("double") * col("sxy").cast("double") -
              col("sx").cast("double") * col("sy").cast("double")) /
              (col("kk").cast("double") * col("sxx").cast("double") -
                col("sx").cast("double") * col("sx").cast("double")), 6)
              .as("higuchi_fd"))
      },
      Some("""WITH daily AS (SELECT day,
             |    row_number() OVER (ORDER BY day) - 1 AS t, y FROM (
             |    SELECT ts::DATE AS day, count(*)::BIGINT AS y
             |    FROM events GROUP BY 1)),
             |nn AS (SELECT count(*)::BIGINT AS n FROM daily),
             |ks AS (SELECT unnest(generate_series(1, 4))::BIGINT AS k),
             |pairs AS (SELECT ks.k, a.t % ks.k AS m,
             |    abs(b.y - a.y)::BIGINT AS ad
             |  FROM daily a, ks, daily b WHERE b.t = a.t + ks.k),
             |lmk AS (SELECT k,
             |    round(sum(ad)::DOUBLE * (nn.n - 1)::DOUBLE
             |      / (count(*)::DOUBLE * k::DOUBLE)
             |      / k::DOUBLE, 9)::DECIMAL(38,9) AS lmk
             |  FROM pairs, nn GROUP BY k, m, nn.n),
             |lk AS (SELECT k,
             |    round(ln(k::DOUBLE), 9)::DECIMAL(10,9) AS lx,
             |    round(ln(sum(lmk)::DOUBLE / count(*)::DOUBLE), 9)
             |      ::DECIMAL(13,9) AS ly
             |  FROM lmk GROUP BY 1)
             |SELECT count(*)::BIGINT AS n_scales,
             |  round(-(count(*)::DOUBLE * sum(lx * ly)::DOUBLE
             |      - sum(lx)::DOUBLE * sum(ly)::DOUBLE)
             |    / (count(*)::DOUBLE * sum(lx * lx)::DOUBLE
             |      - sum(lx)::DOUBLE * sum(lx)::DOUBLE), 6)
             |    AS higuchi_fd
             |FROM lk""".stripMargin)),

    // Yule-Walker AR(2) fit (Yule 1927; Walker 1931) of the daily
    // series — the minimal parametric memory model, the one a drift
    // monitor fits before alarming on q_acf_lags. Lag-0/1/2
    // autocovariances in the EXACT cross-multiplied integer form
    // c_k = Σ (n·y_t − S)(n·y_{t+k} − S) (DECIMAL(38,0) — n·y
    // products pass 2^63 past sf10), each over its own full overlap
    // window; φ1, φ2 from the 2×2 Yule-Walker closed form on
    // r1 = c1/c0·(n/(n−k) correction skipped — standard biased form),
    // innovation variance σ² = c0/n²/n · (1 − φ1r1 − φ2r2).
    QueryDef("q_ar2_yule_walker",
      (s, d) => {
        val daily = graft.sources.Tables.events(s, d)
          .groupBy(to_date(col("ts")).as("day"))
          .agg(count(lit(1)).as("y"))
          .withColumn("t",
            (row_number().over(Window.orderBy(col("day"))) - 1)
              .cast("long"))
        val g = broadcast(daily.agg(count(lit(1)).as("n"),
          sum(col("y")).as("sy")))
        val c = daily.crossJoin(g)
          .select(col("t"), col("n"),
            (col("n") * col("y") - col("sy")).cast("decimal(38,0)")
              .as("c"))
        val w = Window.orderBy(col("t"))
        val lags = c
          .withColumn("c1", lag(col("c"), 1).over(w))
          .withColumn("c2", lag(col("c"), 2).over(w))
        val m = lags.agg(max(col("n")).as("n"),
          sum(col("c") * col("c")).as("a0"),
          sum(when(col("c1").isNotNull, col("c") * col("c1"))).as("a1"),
          sum(when(col("c2").isNotNull, col("c") * col("c2"))).as("a2"))
        m.select(col("n").as("n_days"),
            (col("a1").cast("double") / col("a0").cast("double"))
              .as("r1"),
            (col("a2").cast("double") / col("a0").cast("double"))
              .as("r2"),
            (col("a0").cast("double") /
              (col("n").cast("double") * col("n").cast("double") *
                col("n").cast("double"))).as("c0"))
          .select(col("n_days"),
            round(col("r1"), 6).as("r1"), round(col("r2"), 6).as("r2"),
            round(col("r1") * (lit(1.0) - col("r2")) /
              (lit(1.0) - col("r1") * col("r1")), 6).as("phi1"),
            round((col("r2") - col("r1") * col("r1")) /
              (lit(1.0) - col("r1") * col("r1")), 6).as("phi2"),
            round(col("c0") * (lit(1.0) -
              (col("r1") * (lit(1.0) - col("r2")) /
                (lit(1.0) - col("r1") * col("r1"))) * col("r1") -
              ((col("r2") - col("r1") * col("r1")) /
                (lit(1.0) - col("r1") * col("r1"))) * col("r2")), 4)
              .as("innovation_var"))
      },
      Some("""WITH daily AS (SELECT day,
             |    row_number() OVER (ORDER BY day) - 1 AS t, y FROM (
             |    SELECT ts::DATE AS day, count(*)::BIGINT AS y
             |    FROM events GROUP BY 1)),
             |g AS (SELECT count(*)::BIGINT AS n, sum(y)::BIGINT AS sy
             |  FROM daily),
             |c AS (SELECT daily.t, g.n,
             |    (g.n * daily.y - g.sy)::HUGEINT AS c FROM daily, g),
             |lags AS (SELECT t, n, c,
             |    lag(c, 1) OVER (ORDER BY t) AS c1,
             |    lag(c, 2) OVER (ORDER BY t) AS c2 FROM c),
             |m AS (SELECT max(n)::BIGINT AS n,
             |    sum(c * c)::HUGEINT AS a0,
             |    sum(CASE WHEN c1 IS NOT NULL THEN c * c1 END)::HUGEINT
             |      AS a1,
             |    sum(CASE WHEN c2 IS NOT NULL THEN c * c2 END)::HUGEINT
             |      AS a2
             |  FROM lags),
             |r AS (SELECT n, a1::DOUBLE / a0::DOUBLE AS r1,
             |    a2::DOUBLE / a0::DOUBLE AS r2,
             |    a0::DOUBLE / (n::DOUBLE * n::DOUBLE * n::DOUBLE) AS c0
             |  FROM m)
             |SELECT n AS n_days, round(r1, 6) AS r1, round(r2, 6) AS r2,
             |  round(r1 * (1.0 - r2) / (1.0 - r1 * r1), 6) AS phi1,
             |  round((r2 - r1 * r1) / (1.0 - r1 * r1), 6) AS phi2,
             |  round(c0 * (1.0
             |    - (r1 * (1.0 - r2) / (1.0 - r1 * r1)) * r1
             |    - ((r2 - r1 * r1) / (1.0 - r1 * r1)) * r2), 4)
             |    AS innovation_var
             |FROM r""".stripMargin)),

    // Pettitt changepoint test (Pettitt 1979) on the daily series —
    // the rank-based (distribution-free) single-changepoint test, the
    // robust complement to q_changepoint_detect's mean-shift scan.
    // U_t = Σ_{i≤t} Σ_{j>t} sgn(y_i − y_j) collapses, via mid-ranks,
    // to the EXACT integer prefix sum Σ_{i≤t}(2R_i − (n+1)):
    // Σ_j sgn(y_i − y_j) = L − G = 2R_i − n − 1 where R_i is the
    // mid-rank (2R_i = 2·minrank + ties − 1, always an integer).
    // K = max|U_t| with tie → earliest day; the classical approximate
    // significance level p ≈ 2·exp(−6K²/(n³+n²)). Rank windows run
    // over the calendar digest only (repo rule: never over facts);
    // doubles appear only in the final p projection.
    QueryDef("q_pettitt_changepoint",
      (s, d) => {
        val daily = graft.sources.Tables.events(s, d)
          .groupBy(to_date(col("ts")).as("day"))
          .agg(count(lit(1)).as("y"))
        val n = broadcast(daily.agg(count(lit(1)).as("n")))
        val ranked = daily
          .withColumn("r2", lit(2) * rank().over(Window.orderBy(col("y")))
            + count(lit(1)).over(Window.partitionBy(col("y"))) - lit(1))
          .withColumn("t", row_number().over(Window.orderBy(col("day"))))
          .crossJoin(n)
        val u = ranked
          .withColumn("u2",
            sum(col("r2") - col("n") - lit(1)).over(Window.orderBy(col("day"))
              .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
          .filter(col("t") < col("n"))
        u.withColumn("rn", row_number().over(
            Window.orderBy(abs(col("u2")).desc, col("day").asc)))
          .filter(col("rn") === 1)
          .select(col("n").as("n_days"),
            col("day").cast("string").as("cp_day"),
            abs(col("u2")).as("k_stat"),
            round(least(lit(2.0) * exp(lit(-6.0) *
              (abs(col("u2")) * abs(col("u2"))).cast("double") /
              (col("n") * col("n") * col("n") + col("n") * col("n"))
                .cast("double")), lit(1.0)), 6).as("p_approx"))
      },
      Some("""WITH daily AS (SELECT ts::DATE AS day, count(*)::BIGINT AS y
             |  FROM events GROUP BY 1),
             |g AS (SELECT count(*)::BIGINT AS n FROM daily),
             |ranked AS (SELECT day,
             |    2 * rank() OVER (ORDER BY y)
             |      + count(*) OVER (PARTITION BY y) - 1 AS r2,
             |    row_number() OVER (ORDER BY day) AS t, g.n
             |  FROM daily, g),
             |u AS (SELECT day, t, n,
             |    (sum(r2 - n - 1) OVER (ORDER BY day))::BIGINT AS u2
             |  FROM ranked),
             |top AS (SELECT day, n, abs(u2)::BIGINT AS k FROM u
             |  WHERE t < n ORDER BY abs(u2) DESC, day ASC LIMIT 1)
             |SELECT n AS n_days, day::VARCHAR AS cp_day, k AS k_stat,
             |  round(least(2.0 * exp(-6.0 * (k * k)::DOUBLE
             |    / (n * n * n + n * n)::DOUBLE), 1.0), 6) AS p_approx
             |FROM top""".stripMargin)),

    // SNHT (Alexandersson 1986) + Buishand range (Buishand 1982)
    // homogeneity panel on the daily series — the two parametric
    // station-homogeneity tests climatology runs next to Pettitt.
    // Both reduce to the EXACT integer partial-deviation sums
    // B_t = n·S_t − t·S (DECIMAL(38,0)):
    //   T_t = n·B_t² / ((nQ − S²)·t·(n−t))   (SNHT, max over t<n)
    //   R/√n = (max(B,0) − min(B,0)) / sqrt(n·(nQ − S²))  (Buishand)
    // since n²σ² = nQ − S². Only the final ratios are doubles; the
    // argmax runs on the 1e-6-quantized T with tie → earliest day.
    // Degenerate constant series → NULL via nullif (both engines).
    QueryDef("q_snht_buishand",
      (s, d) => {
        val daily = graft.sources.Tables.events(s, d)
          .groupBy(to_date(col("ts")).as("day"))
          .agg(count(lit(1)).as("y"))
          .withColumn("t",
            row_number().over(Window.orderBy(col("day"))).cast("long"))
        val g = broadcast(daily.agg(count(lit(1)).as("n"),
          sum(col("y").cast("decimal(38,0)")).as("s"),
          sum(col("y").cast("decimal(38,0)") * col("y")).as("q")))
        val pre = daily
          .withColumn("st",
            sum(col("y").cast("decimal(38,0)")).over(Window.orderBy(col("t"))
              .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
          .crossJoin(g)
          .withColumn("b", col("n").cast("decimal(38,0)") * col("st") -
            col("t").cast("decimal(38,0)") * col("s"))
          .withColumn("den",
            (col("n").cast("decimal(38,0)") * col("q") -
              col("s") * col("s")).cast("double"))
        val snht = pre.filter(col("t") < col("n"))
          .withColumn("tt", round(
            col("n").cast("double") * col("b").cast("double") *
              col("b").cast("double") /
              nullif(col("den") * (col("t") * (col("n") - col("t")))
                .cast("double"), lit(0.0)), 6))
          .filter(col("tt").isNotNull)
          .withColumn("rn", row_number().over(
            Window.orderBy(col("tt").desc, col("day").asc)))
          .filter(col("rn") === 1)
          .select(col("n").as("n_days"),
            col("day").cast("string").as("snht_day"),
            col("tt").as("snht_t"), col("den"))
        val bui = pre.agg(
          greatest(max(col("b")), lit(0).cast("decimal(38,0)")).as("bmax"),
          least(min(col("b")), lit(0).cast("decimal(38,0)")).as("bmin"))
        snht.crossJoin(broadcast(bui))
          .select(col("n_days"), col("snht_day"), col("snht_t"),
            round((col("bmax") - col("bmin")).cast("double") /
              nullif(sqrt(col("n_days").cast("double") * col("den")),
                lit(0.0)), 6).as("buishand_rn"))
      },
      Some("""WITH daily AS (SELECT day,
             |    row_number() OVER (ORDER BY day) AS t, y FROM (
             |    SELECT ts::DATE AS day, count(*)::BIGINT AS y
             |    FROM events GROUP BY 1)),
             |g AS (SELECT count(*)::BIGINT AS n, sum(y)::HUGEINT AS s,
             |    sum(y::HUGEINT * y)::HUGEINT AS q FROM daily),
             |pre AS (SELECT daily.day, daily.t, g.n,
             |    g.n * (sum(daily.y) OVER (ORDER BY daily.t))::HUGEINT
             |      - daily.t * g.s AS b,
             |    (g.n * g.q - g.s * g.s)::DOUBLE AS den
             |  FROM daily, g),
             |snht AS (SELECT n, day, tt, den FROM (
             |    SELECT n, day, den, round(n::DOUBLE * b::DOUBLE
             |        * b::DOUBLE / nullif(den
             |          * (t * (n - t))::DOUBLE, 0.0), 6) AS tt
             |    FROM pre WHERE t < n) s
             |  WHERE tt IS NOT NULL ORDER BY tt DESC, day ASC LIMIT 1),
             |bui AS (SELECT greatest(max(b), 0::HUGEINT) AS bmax,
             |    least(min(b), 0::HUGEINT) AS bmin FROM pre)
             |SELECT snht.n AS n_days, snht.day::VARCHAR AS snht_day,
             |  snht.tt AS snht_t,
             |  round((bui.bmax - bui.bmin)::DOUBLE
             |    / nullif(sqrt(snht.n::DOUBLE * snht.den), 0.0), 6)
             |    AS buishand_rn
             |FROM snht, bui""".stripMargin)),

    // Bartels rank test of randomness (Bartels 1982) — the rank von
    // Neumann ratio RVN = Σ(R_t − R_{t+1})² / Σ(R_t − R̄)² on the
    // daily series: the nonparametric "is this series random vs
    // trending/oscillating" screen. Doubled mid-ranks keep every term
    // integer (R̄ = (n+1)/2, so 4·Σ(R_t − R̄)² = Σ(2R_t − (n+1))²);
    // the num/den ratio is an exact integer ratio. z uses Bartels'
    // exact null variance 4(n−2)(5n²−2n−9)/(5n(n+1)(n−1)²); the
    // reject flag compares |z| to the two-sided α=.05 critical value
    // (repo convention — no normal CDF in either engine).
    QueryDef("q_bartels_rank",
      (s, d) => {
        val daily = graft.sources.Tables.events(s, d)
          .groupBy(to_date(col("ts")).as("day"))
          .agg(count(lit(1)).as("y"))
        val n = broadcast(daily.agg(count(lit(1)).as("n")))
        val ranked = daily
          .withColumn("r2", lit(2) * rank().over(Window.orderBy(col("y")))
            + count(lit(1)).over(Window.partitionBy(col("y"))) - lit(1))
          .crossJoin(n)
        val diffed = ranked
          .withColumn("dn", lead(col("r2"), 1).over(Window.orderBy(col("day")))
            - col("r2"))
        val m = diffed.agg(max(col("n")).as("n"),
          sum(col("dn") * col("dn")).as("num4"),
          sum((col("r2") - col("n") - lit(1)) *
            (col("r2") - col("n") - lit(1))).as("den4"))
        m.select(col("n").as("n_days"),
            (col("num4").cast("double") /
              nullif(col("den4").cast("double"), lit(0.0))).as("rvn"),
            col("n").cast("double").as("nd"))
          .select(col("n_days"), round(col("rvn"), 6).as("rvn"),
            round((col("rvn") - lit(2.0)) /
              sqrt(lit(4.0) * (col("nd") - 2.0) *
                (lit(5.0) * col("nd") * col("nd") - lit(2.0) * col("nd")
                  - lit(9.0)) /
                (lit(5.0) * col("nd") * (col("nd") + 1.0) *
                  (col("nd") - 1.0) * (col("nd") - 1.0))), 4).as("z"))
          .withColumn("reject_05", abs(col("z")) > lit(1.959963985))
      },
      Some("""WITH daily AS (SELECT ts::DATE AS day, count(*)::BIGINT AS y
             |  FROM events GROUP BY 1),
             |g AS (SELECT count(*)::BIGINT AS n FROM daily),
             |ranked AS (SELECT day,
             |    2 * rank() OVER (ORDER BY y)
             |      + count(*) OVER (PARTITION BY y) - 1 AS r2, g.n
             |  FROM daily, g),
             |diffed AS (SELECT n, r2,
             |    lead(r2, 1) OVER (ORDER BY day) - r2 AS dn FROM ranked),
             |m AS (SELECT max(n)::BIGINT AS n,
             |    sum(dn::HUGEINT * dn)::HUGEINT AS num4,
             |    sum((r2 - n - 1)::HUGEINT * (r2 - n - 1))::HUGEINT
             |      AS den4 FROM diffed),
             |r AS (SELECT n, num4::DOUBLE
             |      / nullif(den4::DOUBLE, 0.0) AS rvn, n::DOUBLE AS nd
             |  FROM m)
             |SELECT n AS n_days, round(rvn, 6) AS rvn,
             |  round((rvn - 2.0) / sqrt(4.0 * (nd - 2.0)
             |    * (5.0 * nd * nd - 2.0 * nd - 9.0)
             |    / (5.0 * nd * (nd + 1.0) * (nd - 1.0) * (nd - 1.0))), 4)
             |    AS z,
             |  abs(round((rvn - 2.0) / sqrt(4.0 * (nd - 2.0)
             |    * (5.0 * nd * nd - 2.0 * nd - 9.0)
             |    / (5.0 * nd * (nd + 1.0) * (nd - 1.0) * (nd - 1.0))), 4))
             |    > 1.959963985 AS reject_05
             |FROM r""".stripMargin)),

    // Depth-2 binary segmentation (Scott & Knott 1974 lineage) of the
    // daily series — the recursive partner of q_changepoint_detect's
    // inner step: split the whole series at the SSE-optimal day, then
    // split each half again. SSE(a,b) over any segment comes from the
    // EXACT prefix sums (S_t, Q_t) as (Q_b−Q_{a−1}) −
    // (S_b−S_{a−1})²/(b−a+1); gain(t) = SSE(seg) − SSE(left) −
    // SSE(right), computed in doubles from exact DECIMAL prefixes,
    // 1e-6-quantized before the per-segment argmax (tie → earliest
    // day). A segment shorter than 2 days has no candidate split and
    // drops out. Everything after the daily rollup is calendar-digest
    // algebra: the candidate "range join" is digest × digest.
    QueryDef("q_binseg_depth2",
      (s, d) => {
        import s.implicits._
        // r17 (the f715f60 scoped-AQE discipline): 14 driver jobs for
        // 0.22 s of CPU — AQE scheduled one job per exchange across a
        // plan riding a ≤366-row calendar digest. The one data-sized
        // stage (events → daily counts) materializes here WITH AQE on
        // (runtime skew handling at scale); the segment search below
        // runs static and the ≤3-row result is digested inside that
        // scope.
        val daily = graft.sources.Tables.events(s, d)
          .groupBy(to_date(col("ts")).as("day"))
          .agg(count(lit(1)).as("y"))
          .withColumn("t",
            row_number().over(Window.orderBy(col("day"))).cast("long"))
          .localCheckpoint()
        val pre0 = daily
          .withColumn("st",
            sum(col("y").cast("decimal(38,0)")).over(Window.orderBy(col("t"))
              .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
          .withColumn("qt",
            sum(col("y").cast("decimal(38,0)") * col("y"))
              .over(Window.orderBy(col("t"))
                .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
          .select(col("t"), col("day"), col("st"), col("qt"))
        val zero = Seq((0L, "1970-01-01", "0", "0"))
          .toDF("t", "day", "st", "qt")
          .select(col("t"), col("day").cast("date"),
            col("st").cast("decimal(38,0)"),
            col("qt").cast("decimal(38,0)"))
        // checkpointed: six broadcast builds reference pre — without
        // the cut each rebuilds the prefix-sum windows from scratch
        val pre = pre0.unionByName(zero).localCheckpoint()
        def sse(q2: org.apache.spark.sql.Column,
                q1: org.apache.spark.sql.Column,
                s2: org.apache.spark.sql.Column,
                s1: org.apache.spark.sql.Column,
                len: org.apache.spark.sql.Column) =
          (q2 - q1).cast("double") -
            (s2 - s1).cast("double") * (s2 - s1).cast("double") /
              len.cast("double")
        // best split per (lvl, a, b) segment: gain quantized, tie →
        // earliest split day
        def best(segs: org.apache.spark.sql.DataFrame) = segs
          .join(pre.as("pa"), col("pa.t") === col("a") - 1)
          .join(pre.as("pb"), col("pb.t") === col("b"))
          .join(pre.as("pt"),
            col("pt.t") >= col("a") && col("pt.t") < col("b"))
          .withColumn("gain", round(
            sse(col("pb.qt"), col("pa.qt"), col("pb.st"), col("pa.st"),
              col("b") - col("a") + 1) -
            sse(col("pt.qt"), col("pa.qt"), col("pt.st"), col("pa.st"),
              col("pt.t") - col("a") + 1) -
            sse(col("pb.qt"), col("pt.qt"), col("pb.st"), col("pt.st"),
              col("b") - col("pt.t")), 6))
          .withColumn("rn", row_number().over(
            Window.partitionBy(col("lvl"), col("a"), col("b"))
              .orderBy(col("gain").desc, col("pt.t").asc)))
          .filter(col("rn") === 1)
          .select(col("lvl"), col("a"), col("b"),
            col("pt.t").as("cp"), col("gain"))
        val n = daily.agg(max(col("t")).as("n"))
        QueryDef.withConf(s, "spark.sql.adaptive.enabled" -> "false") {
        val lvl1 = best(broadcast(n)
          .select(lit(1L).as("lvl"), lit(1L).as("a"), col("n").as("b")))
        val segs2 = lvl1.select(lit(2L).as("lvl"), col("a"),
            col("cp").as("b"))
          .unionByName(lvl1.select(lit(2L).as("lvl"),
            (col("cp") + 1).as("a"), col("b")))
          .filter(col("b") > col("a"))
        val out = lvl1.unionByName(best(segs2))
        QueryDef.digest(s, out
          .join(pre.as("da"), col("da.t") === col("a"))
          .join(pre.as("db"), col("db.t") === col("b"))
          .join(pre.as("dc"), col("dc.t") === col("cp"))
          .select(col("lvl"),
            col("da.day").cast("string").as("a_day"),
            col("db.day").cast("string").as("b_day"),
            col("dc.day").cast("string").as("cp_day"),
            col("gain"))
          // (lvl, a_day) is unique: one lvl-1 row, ≤2 lvl-2 halves
          // with distinct starts. This ORDER BY was MISSING on both
          // sides until round 15 — the 3 rows matched by join-order
          // luck at sf0.01 and diverged at sf0.1.
          .orderBy(col("lvl"), col("a_day")))
        }
      },
      Some("""WITH daily AS (SELECT day,
             |    row_number() OVER (ORDER BY day) AS t, y FROM (
             |    SELECT ts::DATE AS day, count(*)::BIGINT AS y
             |    FROM events GROUP BY 1)),
             |pre AS (SELECT t, day,
             |    (sum(y) OVER (ORDER BY t))::HUGEINT AS st,
             |    (sum(y::HUGEINT * y) OVER (ORDER BY t))::HUGEINT AS qt
             |  FROM daily
             |  UNION ALL SELECT 0, DATE '1970-01-01', 0, 0),
             |nn AS (SELECT max(t)::BIGINT AS n FROM daily),
             |seg1 AS (SELECT 1::BIGINT AS lvl, 1::BIGINT AS a, n AS b
             |  FROM nn),
             |best1 AS (SELECT lvl, a, b, cp, gain FROM (
             |  SELECT s.lvl, s.a, s.b, pt.t AS cp, round(
             |      ((pb.qt - pa.qt)::DOUBLE - (pb.st - pa.st)::DOUBLE
             |        * (pb.st - pa.st)::DOUBLE / (s.b - s.a + 1)::DOUBLE)
             |    - ((pt.qt - pa.qt)::DOUBLE - (pt.st - pa.st)::DOUBLE
             |        * (pt.st - pa.st)::DOUBLE
             |        / (pt.t - s.a + 1)::DOUBLE)
             |    - ((pb.qt - pt.qt)::DOUBLE - (pb.st - pt.st)::DOUBLE
             |        * (pb.st - pt.st)::DOUBLE / (s.b - pt.t)::DOUBLE),
             |      6) AS gain,
             |    row_number() OVER (PARTITION BY s.lvl, s.a, s.b
             |      ORDER BY round(
             |      ((pb.qt - pa.qt)::DOUBLE - (pb.st - pa.st)::DOUBLE
             |        * (pb.st - pa.st)::DOUBLE / (s.b - s.a + 1)::DOUBLE)
             |    - ((pt.qt - pa.qt)::DOUBLE - (pt.st - pa.st)::DOUBLE
             |        * (pt.st - pa.st)::DOUBLE
             |        / (pt.t - s.a + 1)::DOUBLE)
             |    - ((pb.qt - pt.qt)::DOUBLE - (pb.st - pt.st)::DOUBLE
             |        * (pb.st - pt.st)::DOUBLE / (s.b - pt.t)::DOUBLE),
             |      6) DESC, pt.t ASC) AS rn
             |  FROM seg1 s
             |  JOIN pre pa ON pa.t = s.a - 1
             |  JOIN pre pb ON pb.t = s.b
             |  JOIN pre pt ON pt.t >= s.a AND pt.t < s.b) x
             |  WHERE rn = 1),
             |seg2 AS (SELECT 2::BIGINT AS lvl, a, cp AS b FROM best1
             |    WHERE cp > a
             |  UNION ALL SELECT 2::BIGINT, cp + 1, b FROM best1
             |    WHERE b > cp + 1),
             |best2 AS (SELECT lvl, a, b, cp, gain FROM (
             |  SELECT s.lvl, s.a, s.b, pt.t AS cp, round(
             |      ((pb.qt - pa.qt)::DOUBLE - (pb.st - pa.st)::DOUBLE
             |        * (pb.st - pa.st)::DOUBLE / (s.b - s.a + 1)::DOUBLE)
             |    - ((pt.qt - pa.qt)::DOUBLE - (pt.st - pa.st)::DOUBLE
             |        * (pt.st - pa.st)::DOUBLE
             |        / (pt.t - s.a + 1)::DOUBLE)
             |    - ((pb.qt - pt.qt)::DOUBLE - (pb.st - pt.st)::DOUBLE
             |        * (pb.st - pt.st)::DOUBLE / (s.b - pt.t)::DOUBLE),
             |      6) AS gain,
             |    row_number() OVER (PARTITION BY s.lvl, s.a, s.b
             |      ORDER BY round(
             |      ((pb.qt - pa.qt)::DOUBLE - (pb.st - pa.st)::DOUBLE
             |        * (pb.st - pa.st)::DOUBLE / (s.b - s.a + 1)::DOUBLE)
             |    - ((pt.qt - pa.qt)::DOUBLE - (pt.st - pa.st)::DOUBLE
             |        * (pt.st - pa.st)::DOUBLE
             |        / (pt.t - s.a + 1)::DOUBLE)
             |    - ((pb.qt - pt.qt)::DOUBLE - (pb.st - pt.st)::DOUBLE
             |        * (pb.st - pt.st)::DOUBLE / (s.b - pt.t)::DOUBLE),
             |      6) DESC, pt.t ASC) AS rn
             |  FROM seg2 s
             |  JOIN pre pa ON pa.t = s.a - 1
             |  JOIN pre pb ON pb.t = s.b
             |  JOIN pre pt ON pt.t >= s.a AND pt.t < s.b) x
             |  WHERE rn = 1),
             |outp AS (SELECT * FROM best1 UNION ALL SELECT * FROM best2)
             |SELECT o.lvl, da.day::VARCHAR AS a_day,
             |  db.day::VARCHAR AS b_day, dc.day::VARCHAR AS cp_day,
             |  o.gain
             |FROM outp o
             |JOIN pre da ON da.t = o.a
             |JOIN pre db ON db.t = o.b
             |JOIN pre dc ON dc.t = o.cp
             |ORDER BY o.lvl, a_day""".stripMargin)),

    // Empirical CRPS (Continuous Ranked Probability Score; Gneiting &
    // Raftery 2007, eq. 21 kernel form) of the trailing-week
    // climatology ensemble: the forecast for day t is the 7-member
    // ensemble {y_{t-7..t-1}}, and
    //   CRPS_t = (1/m)Σ|x_i − y_t| − (1/2m²)ΣΣ|x_i − x_j|.
    // With m = 7 both terms clear to EXACT integers:
    //   98·CRPS_t = 14·Σ_i|x_i − y_t| − 2·Σ_{i<j}|x_i − x_j|,
    // so the day panel and the corpus mean are bit-deterministic —
    // no float-mean drift between engines. One shuffle (groupBy day);
    // the lag windows and the 7+21 |Δ| terms all run on the calendar
    // digest. 100 TB: facts collapse to ≤ calendar rows first.
    QueryDef("q_crps_climatology",
      (s, d) => {
        val daily = graft.sources.Tables.events(s, d)
          .groupBy(to_date(col("ts")).as("day"))
          .agg(count(lit(1)).as("y"))
        val w = Window.orderBy(col("day"))
        val lagged = (1 to 7).foldLeft(daily) { (df, k) =>
          df.withColumn(s"m$k", lag(col("y"), k).over(w))
        }.filter(col("m7").isNotNull)
        val spread = (1 to 7).map(k => abs(col(s"m$k") - col("y")))
          .reduce(_ + _)
        val pairSum = (for { i <- 1 to 7; j <- (i + 1) to 7 }
          yield abs(col(s"m$i") - col(s"m$j"))).reduce(_ + _)
        lagged
          .select((lit(14L) * spread - lit(2L) * pairSum).as("c98"),
            spread.as("sp7"))
          .agg(count(lit(1)).as("n_days"),
            sum(col("c98")).as("sc"), sum(col("sp7")).as("ss"))
          .select(col("n_days"),
            round(col("sc").cast("double") /
              (lit(98.0) * col("n_days").cast("double")), 6)
              .as("mean_crps"),
            round(col("ss").cast("double") /
              (lit(7.0) * col("n_days").cast("double")), 6)
              .as("mean_ens_mae"))
      }, {
        val lagCols = (1 to 7).map(k =>
          s"lag(y, $k) OVER (ORDER BY day) AS m$k").mkString(", ")
        val spread = (1 to 7).map(k => s"abs(m$k - y)").mkString(" + ")
        val pairs = (for { i <- 1 to 7; j <- (i + 1) to 7 }
          yield s"abs(m$i - m$j)").mkString(" + ")
        Some(s"""WITH daily AS (SELECT ts::DATE AS day,
               |    count(*)::BIGINT AS y FROM events GROUP BY 1),
               |lagged AS (SELECT y, $lagCols FROM daily),
               |terms AS (SELECT
               |    14 * ($spread) - 2 * ($pairs) AS c98,
               |    ($spread) AS sp7
               |  FROM lagged WHERE m7 IS NOT NULL),
               |m AS (SELECT count(*)::BIGINT AS n_days,
               |    sum(c98)::BIGINT AS sc, sum(sp7)::BIGINT AS ss
               |  FROM terms)
               |SELECT n_days,
               |  round(sc::DOUBLE / (98.0 * n_days::DOUBLE), 6)
               |    AS mean_crps,
               |  round(ss::DOUBLE / (7.0 * n_days::DOUBLE), 6)
               |    AS mean_ens_mae
               |FROM m""".stripMargin)
      }),

    // Diebold-Mariano forecast-accuracy test (Diebold & Mariano 1995)
    // comparing the seasonal-naive (ŷ_t = y_{t-7}) and naive
    // (ŷ_t = y_{t-1}) one-step forecasts under absolute-error loss.
    // The loss differential d_t = |y_t − y_{t-7}| − |y_t − y_{t-1}|
    // is an exact integer per day; for 1-step forecasts the HAC
    // variance truncates at lag 0, so DM = d̄ / √(s²_d / n) needs only
    // (n, Σd, Σd²) — one exact aggregate over the calendar digest.
    // DM < 0 favors the seasonal model. Doubles only in the final
    // projection; the two MAE diagnostics are exact ratios rounded.
    QueryDef("q_diebold_mariano",
      (s, d) => {
        val daily = graft.sources.Tables.events(s, d)
          .groupBy(to_date(col("ts")).as("day"))
          .agg(count(lit(1)).as("y"))
        val w = Window.orderBy(col("day"))
        val dt = daily
          .withColumn("l1", lag(col("y"), 1).over(w))
          .withColumn("l7", lag(col("y"), 7).over(w))
          .filter(col("l7").isNotNull)
          .select(abs(col("y") - col("l7")).as("la"),
            abs(col("y") - col("l1")).as("lb"))
          .select(col("la"), col("lb"), (col("la") - col("lb")).as("dd"))
        dt.agg(count(lit(1)).as("n"), sum(col("la")).as("sa"),
            sum(col("lb")).as("sb"), sum(col("dd")).as("sd"),
            sum(col("dd") * col("dd")).as("qd"))
          .select(col("n").as("n_obs"),
            round(col("sa").cast("double") / col("n").cast("double"), 6)
              .as("mae_seasonal"),
            round(col("sb").cast("double") / col("n").cast("double"), 6)
              .as("mae_naive"),
            round((col("sd").cast("double") / col("n").cast("double")) /
              sqrt(((col("qd").cast("double") -
                col("sd").cast("double") * col("sd").cast("double") /
                  col("n").cast("double")) /
                (col("n").cast("double") - 1.0)) /
                col("n").cast("double")), 6).as("dm_stat"))
      },
      Some("""WITH daily AS (SELECT ts::DATE AS day,
             |    count(*)::BIGINT AS y FROM events GROUP BY 1),
             |dt AS (SELECT abs(y - l7) AS la, abs(y - l1) AS lb,
             |    abs(y - l7) - abs(y - l1) AS dd FROM (
             |    SELECT y, lag(y, 1) OVER (ORDER BY day) AS l1,
             |      lag(y, 7) OVER (ORDER BY day) AS l7 FROM daily)
             |  WHERE l7 IS NOT NULL),
             |m AS (SELECT count(*)::BIGINT AS n, sum(la)::BIGINT AS sa,
             |    sum(lb)::BIGINT AS sb, sum(dd)::BIGINT AS sd,
             |    sum(dd * dd)::BIGINT AS qd FROM dt)
             |SELECT n AS n_obs,
             |  round(sa::DOUBLE / n::DOUBLE, 6) AS mae_seasonal,
             |  round(sb::DOUBLE / n::DOUBLE, 6) AS mae_naive,
             |  round((sd::DOUBLE / n::DOUBLE)
             |    / sqrt(((qd::DOUBLE - sd::DOUBLE * sd::DOUBLE
             |          / n::DOUBLE) / (n::DOUBLE - 1.0)) / n::DOUBLE),
             |    6) AS dm_stat
             |FROM m""".stripMargin)),

    // Pesaran-Timmermann directional-accuracy test (Pesaran &
    // Timmermann 1992) of the seasonal-naive forecast's SIGN skill:
    // does sign(y_{t-7} − y_{t-1}) predict sign(y_t − y_{t-1})
    // better than independence would? The whole statistic is a
    // closed form over FOUR exact integer counts (n, actual-ups,
    // predicted-ups, agreements) from the calendar digest — the
    // success-rate gap P̂ − P* scaled by √(V(P̂) − V(P*)). "Up" is
    // the strict > (zero change counts as down on both sides, the
    // deterministic tie rule). Doubles only in the final projection.
    QueryDef("q_pesaran_timmermann",
      (s, d) => {
        val daily = graft.sources.Tables.events(s, d)
          .groupBy(to_date(col("ts")).as("day"))
          .agg(count(lit(1)).as("y"))
        val w = Window.orderBy(col("day"))
        val sg = daily
          .withColumn("l1", lag(col("y"), 1).over(w))
          .withColumn("l7", lag(col("y"), 7).over(w))
          .filter(col("l7").isNotNull)
          .select((col("y") > col("l1")).cast("long").as("au"),
            (col("l7") > col("l1")).cast("long").as("pu"))
        val g = sg.agg(count(lit(1)).as("n"), sum(col("au")).as("ca"),
          sum(col("pu")).as("cp"),
          sum(when(col("au") === col("pu"), 1L).otherwise(0L)).as("cc"))
        def dbl(c: String) = col(c).cast("double")
        val n = dbl("n")
        val py = dbl("ca") / n
        val pz = dbl("cp") / n
        val ph = dbl("cc") / n
        val ps = py * pz + (lit(1.0) - py) * (lit(1.0) - pz)
        val vh = ps * (lit(1.0) - ps) / n
        val vs = ((lit(2.0) * py - 1.0) * (lit(2.0) * py - 1.0) *
            pz * (lit(1.0) - pz) +
          (lit(2.0) * pz - 1.0) * (lit(2.0) * pz - 1.0) *
            py * (lit(1.0) - py) +
          lit(4.0) * py * pz * (lit(1.0) - py) * (lit(1.0) - pz) / n) / n
        g.select(col("n").as("n_obs"),
          round(ph, 6).as("hit_rate"),
          round(ps, 6).as("indep_rate"),
          round((ph - ps) / sqrt(vh - vs), 6).as("pt_stat"))
      },
      Some("""WITH daily AS (SELECT ts::DATE AS day,
             |    count(*)::BIGINT AS y FROM events GROUP BY 1),
             |sg AS (SELECT (y > l1)::BIGINT AS au,
             |    (l7 > l1)::BIGINT AS pu FROM (
             |    SELECT y, lag(y, 1) OVER (ORDER BY day) AS l1,
             |      lag(y, 7) OVER (ORDER BY day) AS l7 FROM daily)
             |  WHERE l7 IS NOT NULL),
             |g AS (SELECT count(*)::BIGINT AS n, sum(au)::BIGINT AS ca,
             |    sum(pu)::BIGINT AS cp,
             |    sum(CASE WHEN au = pu THEN 1 ELSE 0 END)::BIGINT AS cc
             |  FROM sg),
             |p AS (SELECT n, cc::DOUBLE / n::DOUBLE AS ph,
             |    ca::DOUBLE / n::DOUBLE AS py, cp::DOUBLE / n::DOUBLE AS pz
             |  FROM g),
             |q AS (SELECT n, ph, py, pz,
             |    py * pz + (1.0 - py) * (1.0 - pz) AS ps FROM p)
             |SELECT n AS n_obs, round(ph, 6) AS hit_rate,
             |  round(ps, 6) AS indep_rate,
             |  round((ph - ps) / sqrt(ps * (1.0 - ps) / n::DOUBLE
             |    - ((2.0 * py - 1.0) * (2.0 * py - 1.0)
             |        * pz * (1.0 - pz)
             |      + (2.0 * pz - 1.0) * (2.0 * pz - 1.0)
             |        * py * (1.0 - py)
             |      + 4.0 * py * pz * (1.0 - py) * (1.0 - pz)
             |        / n::DOUBLE) / n::DOUBLE), 6) AS pt_stat
             |FROM q""".stripMargin)),

    // Welch's heteroskedastic one-way ANOVA (Welch 1951) on event
    // value across the five event types — the k-group extension of
    // q_welch_ttest, robust to unequal group variances. Every group
    // moment comes from ONE exact (n, Σvm, Σvm²) aggregate; the
    // weights w_i = n_i/s_i² and the two cross-group reductions
    // (Σw_i m_i and the A/H terms) are quantized to fixed decimals
    // BEFORE summing, so the 5-row reduction is order-independent —
    // the repo's standard defense against float partial-agg
    // reordering. df1 = k−1; df2 = (k²−1)/(3H).
    QueryDef("q_welch_anova",
      (s, d) => {
        val ev = graft.sources.Tables.events(s, d)
          .select(col("event_type").as("g"),
            floor(col("value") * 1000).cast("long").as("vm"))
        val g = ev.groupBy(col("g")).agg(count(lit(1)).as("n"),
          sum(col("vm")).as("sv"), sum(col("vm") * col("vm")).as("qv"))
        def dbl(c: org.apache.spark.sql.Column) = c.cast("double")
        val st = g.select(col("g"), col("n"),
            (dbl(col("sv")) / dbl(col("n"))).as("m"),
            ((dbl(col("qv")) - dbl(col("sv")) * dbl(col("sv")) /
              dbl(col("n"))) / (dbl(col("n")) - 1.0)).as("v2"))
          .select(col("g"), col("n"), col("m"),
            round(dbl(col("n")) / col("v2"), 9)
              .cast("decimal(38,9)").as("wq"))
          .withColumn("wmq",
            round(dbl(col("wq")) * col("m"), 6).cast("decimal(38,6)"))
        val tot = st.agg(sum(col("wq")).as("sw"),
          sum(col("wmq")).as("swm"), count(lit(1)).as("k"))
        val terms = st.crossJoin(broadcast(tot))
          .withColumn("mbar", dbl(col("swm")) / dbl(col("sw")))
          .select(col("k"), col("sw"),
            round(dbl(col("wq")) *
              (col("m") - col("mbar")) * (col("m") - col("mbar")), 6)
              .cast("decimal(38,6)").as("aq"),
            round((lit(1.0) - dbl(col("wq")) / dbl(col("sw"))) *
              (lit(1.0) - dbl(col("wq")) / dbl(col("sw"))) /
              (dbl(col("n")) - 1.0), 9)
              .cast("decimal(38,9)").as("hq"))
        terms.groupBy(col("k"))
          .agg(sum(col("aq")).as("sa"), sum(col("hq")).as("sh"))
          .select(col("k").as("k_groups"),
            round((dbl(col("sa")) / (dbl(col("k")) - 1.0)) /
              (lit(1.0) + lit(2.0) * (dbl(col("k")) - 2.0) /
                (dbl(col("k")) * dbl(col("k")) - 1.0) * dbl(col("sh"))),
              4).as("w_stat"),
            (col("k") - 1L).as("df1"),
            round((dbl(col("k")) * dbl(col("k")) - 1.0) /
              (lit(3.0) * dbl(col("sh"))), 4).as("df2"))
      },
      Some("""WITH v AS (SELECT event_type AS g,
             |    floor(value * 1000)::BIGINT AS vm FROM events),
             |g AS (SELECT g, count(*)::BIGINT AS n, sum(vm)::BIGINT AS sv,
             |    sum(vm * vm)::BIGINT AS qv FROM v GROUP BY 1),
             |st AS (SELECT g, n, m,
             |    round(n::DOUBLE / v2, 9)::DECIMAL(38,9) AS wq FROM (
             |    SELECT g, n, sv::DOUBLE / n::DOUBLE AS m,
             |      (qv::DOUBLE - sv::DOUBLE * sv::DOUBLE / n::DOUBLE)
             |        / (n::DOUBLE - 1.0) AS v2 FROM g)),
             |st2 AS (SELECT g, n, m, wq,
             |    round(wq::DOUBLE * m, 6)::DECIMAL(38,6) AS wmq FROM st),
             |tot AS (SELECT sum(wq) AS sw, sum(wmq) AS swm,
             |    count(*)::BIGINT AS k FROM st2),
             |terms AS (SELECT k, sw,
             |    round(wq::DOUBLE * (m - swm::DOUBLE / sw::DOUBLE)
             |      * (m - swm::DOUBLE / sw::DOUBLE), 6)
             |      ::DECIMAL(38,6) AS aq,
             |    round((1.0 - wq::DOUBLE / sw::DOUBLE)
             |      * (1.0 - wq::DOUBLE / sw::DOUBLE)
             |      / (n::DOUBLE - 1.0), 9)::DECIMAL(38,9) AS hq
             |  FROM st2, tot),
             |f AS (SELECT k, sum(aq) AS sa, sum(hq) AS sh FROM terms
             |  GROUP BY 1)
             |SELECT k AS k_groups,
             |  round((sa::DOUBLE / (k::DOUBLE - 1.0))
             |    / (1.0 + 2.0 * (k::DOUBLE - 2.0)
             |      / (k::DOUBLE * k::DOUBLE - 1.0) * sh::DOUBLE), 4)
             |    AS w_stat,
             |  k - 1 AS df1,
             |  round((k::DOUBLE * k::DOUBLE - 1.0) / (3.0 * sh::DOUBLE),
             |    4) AS df2
             |FROM f""".stripMargin)),

    // Two-sample Hotelling T² (Hotelling 1931) on the daily
    // (view-count, click-count) 2-vectors, first calendar half vs
    // second — the multivariate "did the joint traffic profile
    // move?" test. The entire statistic reduces to TWELVE exact
    // integers (per half: n, Σx, Σy, Σx², Σy², Σxy) from one
    // conditional aggregate over the calendar digest; the pooled
    // 2×2 covariance is inverted in closed form (adjugate/det), so
    // no linear-algebra library and no iteration. F = T²(n−3)/(2(n−2))
    // with p = 2 dimensions. Doubles only after the single-row digest.
    QueryDef("q_hotelling_t2",
      (s, d) => {
        val daily = graft.sources.Tables.events(s, d)
          .groupBy(to_date(col("ts")).as("day"))
          .agg(sum(when(col("event_type") === "view", 1L).otherwise(0L))
              .as("x"),
            sum(when(col("event_type") === "click", 1L).otherwise(0L))
              .as("y"))
          .withColumn("t",
            row_number().over(Window.orderBy(col("day"))).cast("long"))
        val n = broadcast(daily.agg(count(lit(1)).as("nn")))
        val arm = daily.crossJoin(n)
          .select((col("t") * 2 <= col("nn")).as("a"), col("x"), col("y"))
        def cs(p: org.apache.spark.sql.Column, e: org.apache.spark.sql.Column,
               nm: String) = sum(when(p, e).otherwise(0L)).as(nm)
        val ag = arm.agg(
          cs(col("a"), lit(1L), "n1"), cs(col("a"), col("x"), "sx1"),
          cs(col("a"), col("y"), "sy1"),
          cs(col("a"), col("x") * col("x"), "qx1"),
          cs(col("a"), col("y") * col("y"), "qy1"),
          cs(col("a"), col("x") * col("y"), "pxy1"),
          cs(!col("a"), lit(1L), "n2"), cs(!col("a"), col("x"), "sx2"),
          cs(!col("a"), col("y"), "sy2"),
          cs(!col("a"), col("x") * col("x"), "qx2"),
          cs(!col("a"), col("y") * col("y"), "qy2"),
          cs(!col("a"), col("x") * col("y"), "pxy2"))
        def dbl(c: String) = col(c).cast("double")
        val ssxx = (dbl("qx1") - dbl("sx1") * dbl("sx1") / dbl("n1")) +
          (dbl("qx2") - dbl("sx2") * dbl("sx2") / dbl("n2"))
        val ssyy = (dbl("qy1") - dbl("sy1") * dbl("sy1") / dbl("n1")) +
          (dbl("qy2") - dbl("sy2") * dbl("sy2") / dbl("n2"))
        val ssxy = (dbl("pxy1") - dbl("sx1") * dbl("sy1") / dbl("n1")) +
          (dbl("pxy2") - dbl("sx2") * dbl("sy2") / dbl("n2"))
        val nT = dbl("n1") + dbl("n2")
        val dx = dbl("sx1") / dbl("n1") - dbl("sx2") / dbl("n2")
        val dy = dbl("sy1") / dbl("n1") - dbl("sy2") / dbl("n2")
        // ANSI Spark throws on double ÷ 0 (DuckDB yields inf): a
        // singular pooled covariance (collinear channels) → NULL on
        // both engines via the nullif guard
        val det = ssxx * ssyy - ssxy * ssxy
        val t2 = dbl("n1") * dbl("n2") / nT * (nT - 2.0) *
          (ssyy * dx * dx - lit(2.0) * ssxy * dx * dy + ssxx * dy * dy) /
          nullif(det, lit(0.0))
        ag.select(col("n1"), col("n2"), round(t2, 4).as("t2_stat"),
          round(t2 * (nT - 3.0) / ((nT - 2.0) * 2.0), 4).as("f_stat"))
      },
      Some("""WITH daily AS (SELECT ts::DATE AS day,
             |    sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END)
             |      ::BIGINT AS x,
             |    sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
             |      ::BIGINT AS y
             |  FROM events GROUP BY 1),
             |idx AS (SELECT x, y,
             |    row_number() OVER (ORDER BY day) AS t FROM daily),
             |nn AS (SELECT count(*)::BIGINT AS nn FROM daily),
             |arm AS (SELECT (t * 2 <= nn) AS a, x, y FROM idx, nn),
             |ag AS (SELECT
             |    sum(CASE WHEN a THEN 1 ELSE 0 END)::BIGINT AS n1,
             |    sum(CASE WHEN a THEN x ELSE 0 END)::BIGINT AS sx1,
             |    sum(CASE WHEN a THEN y ELSE 0 END)::BIGINT AS sy1,
             |    sum(CASE WHEN a THEN x * x ELSE 0 END)::BIGINT AS qx1,
             |    sum(CASE WHEN a THEN y * y ELSE 0 END)::BIGINT AS qy1,
             |    sum(CASE WHEN a THEN x * y ELSE 0 END)::BIGINT AS pxy1,
             |    sum(CASE WHEN NOT a THEN 1 ELSE 0 END)::BIGINT AS n2,
             |    sum(CASE WHEN NOT a THEN x ELSE 0 END)::BIGINT AS sx2,
             |    sum(CASE WHEN NOT a THEN y ELSE 0 END)::BIGINT AS sy2,
             |    sum(CASE WHEN NOT a THEN x * x ELSE 0 END)::BIGINT AS qx2,
             |    sum(CASE WHEN NOT a THEN y * y ELSE 0 END)::BIGINT AS qy2,
             |    sum(CASE WHEN NOT a THEN x * y ELSE 0 END)::BIGINT AS pxy2
             |  FROM arm),
             |e AS (SELECT n1, n2, n1::DOUBLE + n2::DOUBLE AS nt,
             |    (qx1::DOUBLE - sx1::DOUBLE * sx1::DOUBLE / n1::DOUBLE)
             |      + (qx2::DOUBLE - sx2::DOUBLE * sx2::DOUBLE
             |        / n2::DOUBLE) AS ssxx,
             |    (qy1::DOUBLE - sy1::DOUBLE * sy1::DOUBLE / n1::DOUBLE)
             |      + (qy2::DOUBLE - sy2::DOUBLE * sy2::DOUBLE
             |        / n2::DOUBLE) AS ssyy,
             |    (pxy1::DOUBLE - sx1::DOUBLE * sy1::DOUBLE / n1::DOUBLE)
             |      + (pxy2::DOUBLE - sx2::DOUBLE * sy2::DOUBLE
             |        / n2::DOUBLE) AS ssxy,
             |    sx1::DOUBLE / n1::DOUBLE - sx2::DOUBLE / n2::DOUBLE AS dx,
             |    sy1::DOUBLE / n1::DOUBLE - sy2::DOUBLE / n2::DOUBLE AS dy
             |  FROM ag),
             |t AS (SELECT n1, n2, nt,
             |    n1::DOUBLE * n2::DOUBLE / nt * (nt - 2.0)
             |      * (ssyy * dx * dx - 2.0 * ssxy * dx * dy
             |        + ssxx * dy * dy)
             |      / nullif(ssxx * ssyy - ssxy * ssxy, 0.0) AS t2
             |  FROM e)
             |SELECT n1, n2, round(t2, 4) AS t2_stat,
             |  round(t2 * (nt - 3.0) / ((nt - 2.0) * 2.0), 4) AS f_stat
             |FROM t""".stripMargin)),

    // Dunn's post-hoc pairwise test (Dunn 1964) with tie correction —
    // the follow-up q_kruskal_wallis implies: which of the 10 event-
    // type pairs actually differ in rank? Reuses the exact midrank
    // digest (2·midrank = 2·below + t + 1 is always an integer, so
    // per-group rank sums are EXACT decimals), then the 10 pairwise z
    // scores are a closed form over the 5-row group digest:
    // z = (R̄_i − R̄_j)/√((N(N+1)/12 − ΣT/(12(N−1)))(1/n_i + 1/n_j)).
    // Reject at the Bonferroni-corrected two-sided 0.05 (|z| ≥ 2.807).
    QueryDef("q_dunn_posthoc",
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
            (lit(2L) * col("below") + col("t") + 1L)
              .cast("decimal(38,0)")).as("r2sum"),
            sum(col("c")).as("ng"))
        val ties = cell.agg(
          sum(col("t").cast("decimal(38,0)") * col("t") * col("t") -
            col("t")).as("tsum"),
          sum(col("t")).as("nn"))
        def dbl(c: org.apache.spark.sql.Column) = c.cast("double")
        val base = (dbl(col("nn")) * (dbl(col("nn")) + 1.0) / 12.0) -
          dbl(col("tsum")) / (lit(12.0) * (dbl(col("nn")) - 1.0))
        val a = r.select(col("g").as("g_a"), col("r2sum").as("ra"),
          col("ng").as("na"))
        val b = r.select(col("g").as("g_b"), col("r2sum").as("rb"),
          col("ng").as("nb"))
        a.crossJoin(b).filter(col("g_a") < col("g_b"))
          .crossJoin(broadcast(ties))
          .select(col("g_a"), col("g_b"),
            round(dbl(col("ra")) / (lit(2.0) * dbl(col("na"))), 4)
              .as("mean_rank_a"),
            round(dbl(col("rb")) / (lit(2.0) * dbl(col("nb"))), 4)
              .as("mean_rank_b"),
            round((dbl(col("ra")) / (lit(2.0) * dbl(col("na"))) -
              dbl(col("rb")) / (lit(2.0) * dbl(col("nb")))) /
              sqrt(base * (lit(1.0) / dbl(col("na")) +
                lit(1.0) / dbl(col("nb")))), 4).as("z"))
          .withColumn("reject_bonf05", abs(col("z")) >= 2.807)
          .orderBy(col("g_a"), col("g_b"))
      },
      Some("""WITH v AS (SELECT event_type AS g,
             |    floor(value * 1000)::BIGINT AS vm FROM events),
             |cell AS (SELECT vm, count(*)::BIGINT AS t FROM v GROUP BY 1),
             |cc AS (SELECT vm, t, coalesce(sum(t) OVER (ORDER BY vm
             |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
             |    AS below
             |  FROM cell),
             |gc AS (SELECT g, vm, count(*)::BIGINT AS c FROM v
             |  GROUP BY 1, 2),
             |r AS (SELECT g,
             |    sum(c::HUGEINT * (2 * below + t + 1)::HUGEINT) AS r2sum,
             |    sum(c)::BIGINT AS ng
             |  FROM gc JOIN cc USING (vm) GROUP BY 1),
             |ties AS (SELECT sum(t::HUGEINT * t * t - t) AS tsum,
             |    sum(t)::BIGINT AS nn FROM cell)
             |SELECT a.g AS g_a, b.g AS g_b,
             |  round(a.r2sum::DOUBLE / (2.0 * a.ng::DOUBLE), 4)
             |    AS mean_rank_a,
             |  round(b.r2sum::DOUBLE / (2.0 * b.ng::DOUBLE), 4)
             |    AS mean_rank_b,
             |  round((a.r2sum::DOUBLE / (2.0 * a.ng::DOUBLE)
             |    - b.r2sum::DOUBLE / (2.0 * b.ng::DOUBLE))
             |    / sqrt(((nn::DOUBLE * (nn::DOUBLE + 1.0) / 12.0)
             |      - tsum::DOUBLE / (12.0 * (nn::DOUBLE - 1.0)))
             |      * (1.0 / a.ng::DOUBLE + 1.0 / b.ng::DOUBLE)), 4)
             |    AS z,
             |  abs(round((a.r2sum::DOUBLE / (2.0 * a.ng::DOUBLE)
             |    - b.r2sum::DOUBLE / (2.0 * b.ng::DOUBLE))
             |    / sqrt(((nn::DOUBLE * (nn::DOUBLE + 1.0) / 12.0)
             |      - tsum::DOUBLE / (12.0 * (nn::DOUBLE - 1.0)))
             |      * (1.0 / a.ng::DOUBLE + 1.0 / b.ng::DOUBLE)), 4))
             |    >= 2.807 AS reject_bonf05
             |FROM r a, r b, ties WHERE a.g < b.g
             |ORDER BY 1, 2""".stripMargin)),

    // Poisson goodness-of-fit panel for purchases per user-week —
    // the count-model diagnosis a demand pipeline runs before picking
    // Poisson vs negative-binomial. The zero class is NEVER
    // materialized: the spine is |users| × |weeks| (two digest
    // cardinalities), O_0 = U·W − nonzero cells, so the plan stays
    // one fact-sized aggregate + two distinct-counts at any scale.
    // Bins {0, 1, 2, ≥3}; χ² df = 4 − 1 − 1 (λ estimated). Also the
    // dispersion index and the method-of-moments negative-binomial
    // (r, p) — var > mean ⟹ overdispersion ⟹ NB is the better fit.
    QueryDef("q_poisson_gof",
      (s, d) => {
        val ev = graft.sources.Tables.events(s, d)
        val spine = broadcast(ev.agg(
          countDistinct(col("user_id")).as("u"),
          countDistinct(date_trunc("week", col("ts"))).as("w")))
        val pw = ev.filter(col("event_type") === "purchase")
          .groupBy(col("user_id"), date_trunc("week", col("ts")).as("wk"))
          .agg(count(lit(1)).as("k"))
        val nz = pw.agg(
          sum(when(col("k") === 1, 1L).otherwise(0L)).as("o1"),
          sum(when(col("k") === 2, 1L).otherwise(0L)).as("o2"),
          sum(when(col("k") >= 3, 1L).otherwise(0L)).as("o3"),
          sum(col("k")).as("sk"), sum(col("k") * col("k")).as("qk"),
          count(lit(1)).as("nnz"))
        def dbl(c: String) = col(c).cast("double")
        val cells = col("u") * col("w")
        val lam = dbl("sk") / cells.cast("double")
        val e0 = cells.cast("double") * exp(-lam)
        val e1 = e0 * lam
        val e2 = e1 * lam / 2.0
        val e3 = cells.cast("double") - e0 - e1 - e2
        val o0 = (cells - col("nnz")).cast("double")
        val vr = (dbl("qk") - dbl("sk") * dbl("sk") /
          cells.cast("double")) / (cells.cast("double") - 1.0)
        nz.crossJoin(spine).select(
          cells.as("n_cells"),
          round(lam, 6).as("lambda_hat"),
          round((o0 - e0) * (o0 - e0) / e0 +
            (dbl("o1") - e1) * (dbl("o1") - e1) / e1 +
            (dbl("o2") - e2) * (dbl("o2") - e2) / e2 +
            (dbl("o3") - e3) * (dbl("o3") - e3) / e3, 4).as("chisq"),
          round(vr / lam, 6).as("dispersion"),
          round(lam * lam / (vr - lam), 6).as("nb_r"),
          round(lam / vr, 6).as("nb_p"))
      },
      Some("""WITH spine AS (SELECT count(DISTINCT user_id)::BIGINT AS u,
             |    count(DISTINCT date_trunc('week', ts))::BIGINT AS w
             |  FROM events),
             |pw AS (SELECT user_id, date_trunc('week', ts) AS wk,
             |    count(*)::BIGINT AS k FROM events
             |  WHERE event_type = 'purchase' GROUP BY 1, 2),
             |nz AS (SELECT
             |    sum(CASE WHEN k = 1 THEN 1 ELSE 0 END)::BIGINT AS o1,
             |    sum(CASE WHEN k = 2 THEN 1 ELSE 0 END)::BIGINT AS o2,
             |    sum(CASE WHEN k >= 3 THEN 1 ELSE 0 END)::BIGINT AS o3,
             |    sum(k)::BIGINT AS sk, sum(k * k)::BIGINT AS qk,
             |    count(*)::BIGINT AS nnz FROM pw),
             |e AS (SELECT u * w AS cells,
             |    sk::DOUBLE / (u * w)::DOUBLE AS lam,
             |    (u * w)::DOUBLE * exp(-(sk::DOUBLE / (u * w)::DOUBLE))
             |      AS e0,
             |    ((u * w) - nnz)::DOUBLE AS o0,
             |    o1::DOUBLE AS o1, o2::DOUBLE AS o2, o3::DOUBLE AS o3,
             |    (qk::DOUBLE - sk::DOUBLE * sk::DOUBLE / (u * w)::DOUBLE)
             |      / ((u * w)::DOUBLE - 1.0) AS vr
             |  FROM nz, spine)
             |SELECT cells AS n_cells, round(lam, 6) AS lambda_hat,
             |  round((o0 - e0) * (o0 - e0) / e0
             |    + (o1 - e0 * lam) * (o1 - e0 * lam) / (e0 * lam)
             |    + (o2 - e0 * lam * lam / 2.0)
             |      * (o2 - e0 * lam * lam / 2.0) / (e0 * lam * lam / 2.0)
             |    + (o3 - (cells::DOUBLE - e0 - e0 * lam
             |        - e0 * lam * lam / 2.0))
             |      * (o3 - (cells::DOUBLE - e0 - e0 * lam
             |        - e0 * lam * lam / 2.0))
             |      / (cells::DOUBLE - e0 - e0 * lam
             |        - e0 * lam * lam / 2.0), 4) AS chisq,
             |  round(vr / lam, 6) AS dispersion,
             |  round(lam * lam / (vr - lam), 6) AS nb_r,
             |  round(lam / vr, 6) AS nb_p
             |FROM e""".stripMargin)),

    // Katz centrality (Katz 1953), 3 attenuated rounds with α = 1/8,
    // over the undirected co-purchase graph: x = Σ_k α^k A^k 1 via
    // the iteration x_{i+1}(v) = (Σ_{u∈N(v)} (1e9 + x_i(u))) div 8 —
    // the q_pagerank discipline: ALL arithmetic is integer ppb
    // (float addition is order-dependent under parallel aggregation;
    // the integer form is bit-identical at any partition layout).
    // Per round: one join keyed on src + one aggregate keyed on dst.
    // Ranks are node-sized; top-20 by (katz DESC, node ASC).
    QueryDef("q_katz_centrality",
      (s, d) => {
        val e = s.read.parquet(SqlQueries.copurchaseEdgesOf(s, d))
        val eb = e.select(col("p1").as("src"), col("p2").as("dst"))
          .unionAll(e.select(col("p2").as("src"), col("p1").as("dst")))
        var x = eb.select(col("src").as("node")).distinct()
          .withColumn("katz", lit(0L))
        for (_ <- 1 to 3) {
          x = eb.join(x, col("src") === col("node"))
            .groupBy(col("dst").as("node"))
            .agg(expr("sum(1000000000 + katz) div 8").as("katz"))
        }
        x.orderBy(col("katz").desc, col("node")).limit(20)
      },
      Some("""WITH pp AS (SELECT DISTINCT l_orderkey, l_partkey
             |  FROM lineitem),
             |e AS (SELECT a.l_partkey AS p1, b.l_partkey AS p2
             |  FROM pp a JOIN pp b ON a.l_orderkey = b.l_orderkey
             |    AND a.l_partkey < b.l_partkey
             |  GROUP BY 1, 2 HAVING count(*) >= 2),
             |eb AS (SELECT p1 AS src, p2 AS dst FROM e
             |  UNION ALL SELECT p2, p1 FROM e),
             |x0 AS (SELECT DISTINCT src AS node, 0::BIGINT AS katz
             |  FROM eb),
             |x1 AS (SELECT eb.dst AS node,
             |    (sum(1000000000 + x0.katz) // 8)::BIGINT AS katz
             |  FROM eb JOIN x0 ON eb.src = x0.node GROUP BY 1),
             |x2 AS (SELECT eb.dst AS node,
             |    (sum(1000000000 + x1.katz) // 8)::BIGINT AS katz
             |  FROM eb JOIN x1 ON eb.src = x1.node GROUP BY 1),
             |x3 AS (SELECT eb.dst AS node,
             |    (sum(1000000000 + x2.katz) // 8)::BIGINT AS katz
             |  FROM eb JOIN x2 ON eb.src = x2.node GROUP BY 1)
             |SELECT node, katz FROM x3
             |ORDER BY katz DESC, node LIMIT 20""".stripMargin)),

    // 4-truss decomposition (Cohen 2008), 3 support-peel rounds: keep
    // every edge in ≥ 2 triangles, recount, repeat — the standard
    // cohesive-subgraph miner one notch above q_triangle_count and a
    // cousin of q_kcore3's degree peel. Per round: one oriented
    // (a<b<c) triangle enumeration (two hash joins on the persisted
    // edge list), one 3-way edge explode + count, one semi-join
    // filter. The kcore3 persist discipline applies — each round's
    // survivor set is materialized and the previous one dropped, or
    // the lineage re-derives every prior round inside each recount.
    QueryDef("q_ktruss4",
      (s, d) => {
        import org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
        var e = s.read.parquet(SqlQueries.copurchaseEdgesOf(s, d))
          .select(col("p1"), col("p2")).persist(MEMORY_AND_DISK)
        e.count()
        for (_ <- 1 to 3) {
          val tri = e.join(e.select(col("p1").as("b1"), col("p2").as("c1")),
              col("p2") === col("b1"))
            .join(e.select(col("p1").as("a2"), col("p2").as("c2")),
              col("p1") === col("a2") && col("c1") === col("c2"))
            .select(col("p1").as("ta"), col("p2").as("tb"),
              col("c1").as("tc"))
          val sup = tri.select(explode(array(
              struct(col("ta").as("u"), col("tb").as("v")),
              struct(col("tb").as("u"), col("tc").as("v")),
              struct(col("ta").as("u"), col("tc").as("v")))).as("ed"))
            .select(col("ed.u").as("u"), col("ed.v").as("v"))
            .groupBy(col("u"), col("v")).agg(count(lit(1)).as("sup"))
            .filter(col("sup") >= 2)
          val ne = e.join(sup,
              col("p1") === col("u") && col("p2") === col("v"), "left_semi")
            .persist(MEMORY_AND_DISK)
          ne.count()
          e.unpersist()
          e = ne
        }
        val deg = e.select(explode(array(col("p1"), col("p2"))).as("n"))
          .groupBy(col("n")).agg(count(lit(1)).as("dg"))
        QueryDef.digest(s, e.agg(count(lit(1)).as("truss_edges"))
          .crossJoin(broadcast(deg.agg(count(lit(1)).as("truss_nodes"),
            coalesce(max(col("dg")), lit(0L)).as("max_degree")))), e)
      },
      Some("""WITH pp AS (SELECT DISTINCT l_orderkey, l_partkey
             |  FROM lineitem),
             |e0 AS MATERIALIZED (SELECT a.l_partkey AS p1,
             |    b.l_partkey AS p2
             |  FROM pp a JOIN pp b ON a.l_orderkey = b.l_orderkey
             |    AND a.l_partkey < b.l_partkey
             |  GROUP BY 1, 2 HAVING count(*) >= 2),
             |s1 AS (SELECT u, v FROM (
             |  SELECT u, v, count(*) AS sup FROM (
             |    SELECT e1.p1 AS u, e1.p2 AS v FROM e0 e1
             |      JOIN e0 e2 ON e1.p2 = e2.p1
             |      JOIN e0 e3 ON e1.p1 = e3.p1 AND e2.p2 = e3.p2
             |    UNION ALL
             |    SELECT e1.p2, e2.p2 FROM e0 e1
             |      JOIN e0 e2 ON e1.p2 = e2.p1
             |      JOIN e0 e3 ON e1.p1 = e3.p1 AND e2.p2 = e3.p2
             |    UNION ALL
             |    SELECT e1.p1, e2.p2 FROM e0 e1
             |      JOIN e0 e2 ON e1.p2 = e2.p1
             |      JOIN e0 e3 ON e1.p1 = e3.p1 AND e2.p2 = e3.p2)
             |  GROUP BY 1, 2) WHERE sup >= 2),
             |e1r AS MATERIALIZED (SELECT p1, p2 FROM e0
             |  WHERE EXISTS (SELECT 1 FROM s1
             |    WHERE s1.u = e0.p1 AND s1.v = e0.p2)),
             |s2 AS (SELECT u, v FROM (
             |  SELECT u, v, count(*) AS sup FROM (
             |    SELECT e1.p1 AS u, e1.p2 AS v FROM e1r e1
             |      JOIN e1r e2 ON e1.p2 = e2.p1
             |      JOIN e1r e3 ON e1.p1 = e3.p1 AND e2.p2 = e3.p2
             |    UNION ALL
             |    SELECT e1.p2, e2.p2 FROM e1r e1
             |      JOIN e1r e2 ON e1.p2 = e2.p1
             |      JOIN e1r e3 ON e1.p1 = e3.p1 AND e2.p2 = e3.p2
             |    UNION ALL
             |    SELECT e1.p1, e2.p2 FROM e1r e1
             |      JOIN e1r e2 ON e1.p2 = e2.p1
             |      JOIN e1r e3 ON e1.p1 = e3.p1 AND e2.p2 = e3.p2)
             |  GROUP BY 1, 2) WHERE sup >= 2),
             |e2r AS MATERIALIZED (SELECT p1, p2 FROM e1r
             |  WHERE EXISTS (SELECT 1 FROM s2
             |    WHERE s2.u = e1r.p1 AND s2.v = e1r.p2)),
             |s3 AS (SELECT u, v FROM (
             |  SELECT u, v, count(*) AS sup FROM (
             |    SELECT e1.p1 AS u, e1.p2 AS v FROM e2r e1
             |      JOIN e2r e2 ON e1.p2 = e2.p1
             |      JOIN e2r e3 ON e1.p1 = e3.p1 AND e2.p2 = e3.p2
             |    UNION ALL
             |    SELECT e1.p2, e2.p2 FROM e2r e1
             |      JOIN e2r e2 ON e1.p2 = e2.p1
             |      JOIN e2r e3 ON e1.p1 = e3.p1 AND e2.p2 = e3.p2
             |    UNION ALL
             |    SELECT e1.p1, e2.p2 FROM e2r e1
             |      JOIN e2r e2 ON e1.p2 = e2.p1
             |      JOIN e2r e3 ON e1.p1 = e3.p1 AND e2.p2 = e3.p2)
             |  GROUP BY 1, 2) WHERE sup >= 2),
             |e3r AS MATERIALIZED (SELECT p1, p2 FROM e2r
             |  WHERE EXISTS (SELECT 1 FROM s3
             |    WHERE s3.u = e2r.p1 AND s3.v = e2r.p2)),
             |deg AS (SELECT n, count(*)::BIGINT AS dg FROM (
             |    SELECT p1 AS n FROM e3r UNION ALL SELECT p2 FROM e3r)
             |  GROUP BY 1),
             |dd AS (SELECT count(*)::BIGINT AS truss_nodes,
             |    coalesce(max(dg), 0)::BIGINT AS max_degree FROM deg)
             |SELECT (SELECT count(*)::BIGINT FROM e3r) AS truss_edges,
             |  truss_nodes, max_degree
             |FROM dd""".stripMargin)),

    // Adamic-Adar link prediction (Adamic & Adar 2003): score every
    // non-adjacent distance-2 pair by Σ_{b∈N(a)∩N(c)} 1/ln(deg b),
    // the classic common-neighbor index that down-weights promiscuous
    // hubs. The middle weight is quantized once (round(1/ln deg, 9))
    // on the node digest, so the per-pair DECIMAL sums are
    // order-independent and engine-exact. Shapes: one wedge self-join
    // keyed on the middle node, an anti-join to drop already-linked
    // pairs, top-20 (score DESC, a, c). A wedge middle always has
    // deg ≥ 2, but the ANSI ln(1) = 0 divide guard stays on the digest.
    QueryDef("q_adamic_adar",
      (s, d) => {
        val e = s.read.parquet(SqlQueries.copurchaseEdgesOf(s, d))
        val eb = e.select(col("p1").as("src"), col("p2").as("dst"))
          .unionAll(e.select(col("p2").as("src"), col("p1").as("dst")))
        val mw = eb.groupBy(col("src").as("b")).agg(count(lit(1)).as("deg"))
          .filter(col("deg") >= 2)
          .select(col("b"),
            round(lit(1.0) / nullif(log(col("deg").cast("double")),
              lit(0.0)), 9).cast("decimal(20,9)").as("w"))
        val wedge = eb.select(col("dst").as("b"), col("src").as("a"))
          .join(eb.select(col("src").as("b2"), col("dst").as("c")),
            col("b") === col("b2"))
          .filter(col("a") < col("c"))
          .join(mw, "b")
        val scored = wedge.groupBy(col("a"), col("c"))
          .agg(sum(col("w")).as("aa_score"),
            count(lit(1)).as("common_neighbors"))
          .join(e, col("a") === col("p1") && col("c") === col("p2"),
            "left_anti")
        scored.select(col("a"), col("c"),
            col("aa_score").cast("double").as("aa_score"),
            col("common_neighbors"))
          .orderBy(col("aa_score").desc, col("a"), col("c")).limit(20)
      },
      Some("""WITH pp AS (SELECT DISTINCT l_orderkey, l_partkey
             |  FROM lineitem),
             |e AS (SELECT a.l_partkey AS p1, b.l_partkey AS p2
             |  FROM pp a JOIN pp b ON a.l_orderkey = b.l_orderkey
             |    AND a.l_partkey < b.l_partkey
             |  GROUP BY 1, 2 HAVING count(*) >= 2),
             |eb AS (SELECT p1 AS src, p2 AS dst FROM e
             |  UNION ALL SELECT p2, p1 FROM e),
             |mw AS (SELECT src AS b,
             |    round(1.0 / nullif(ln(count(*)::DOUBLE), 0.0), 9)
             |      ::DECIMAL(20,9) AS w
             |  FROM eb GROUP BY 1 HAVING count(*) >= 2),
             |wedge AS (SELECT i.dst AS b, i.src AS a, o.dst AS c
             |  FROM eb i JOIN eb o ON i.dst = o.src
             |  WHERE i.src < o.dst),
             |scored AS (SELECT w.a, w.c, sum(mw.w) AS aa_score,
             |    count(*)::BIGINT AS common_neighbors
             |  FROM wedge w JOIN mw ON w.b = mw.b
             |  GROUP BY 1, 2),
             |nonadj AS (SELECT s.* FROM scored s
             |  WHERE NOT EXISTS (SELECT 1 FROM e
             |    WHERE e.p1 = s.a AND e.p2 = s.c))
             |SELECT a, c, aa_score::DOUBLE AS aa_score, common_neighbors
             |FROM nonadj
             |ORDER BY aa_score DESC, a, c LIMIT 20""".stripMargin)),

    // Association rules (Agrawal et al. 1993) over order→brand
    // baskets: 1-item rules A ⇒ B with support ≥ 1% of baskets,
    // ranked by lift. ONE groupBy(order) builds the distinct brand
    // set per basket (baskets are ≤ |brands| wide, so the ordered
    // pair expansion INCLUDING the (b, b) diagonal is bounded per
    // order); the diagonal rows ARE the single-brand supports, so a
    // single ≤ 625-row digest aggregate carries both relations. 25
    // brands ⇒ the digest is fixed-size at any corpus size, and the
    // support/confidence/lift arithmetic rides it on the driver —
    // the lazy-plan spelling (distinct + self-join + two broadcast
    // joins) scheduled 3× the jobs for the same two shuffles of
    // distributed work.
    QueryDef("q_assoc_rules",
      (s, d) => {
        // the ("", "") sentinel pair (brand values are "Brand#NN" —
        // never empty) contributes once per basket, so the basket
        // count rides the SAME shuffle. r16 shape: ONE explicit
        // hash(oid) exchange serves the (oid, brand) dedup aggregate
        // (ClusteredDistribution(oid, brand) is satisfied by
        // hash(oid)), the co-partitioned self-join that produces all
        // ordered brand pairs INCLUDING the (b, b) diagonal (those
        // diagonal rows ARE the single-brand supports), and the
        // basket count — the old per-basket collect_set array +
        // all-pairs comprehension ran through ObjectHashAggregate
        // (not codegen'd) and measured 1.50 vs 0.83 s in an
        // interleaved 5-trial A/B at sf0.1/32c (same digest map,
        // asserted equal). The ≤625-row pair digest still collapses
        // map-side; rule arithmetic rides it on the driver.
        // r17 (ADVICE): no explicit broadcast hint — part is scale-
        // proportional; the planner broadcasts the 2-column projection
        // at bench SF on its own size estimate and falls back to a
        // shuffle join at scale.
        val bl = graft.sources.Tables.load(s, d, "lineitem")
          .join(graft.sources.Tables.load(s, d, "part")
            .select(col("p_partkey"), col("p_brand")),
            col("l_partkey") === col("p_partkey"))
          .select(col("l_orderkey").as("oid"), col("p_brand").as("brand"))
          .repartition(col("oid")).distinct()
        val pairs = bl.select(col("oid"), col("brand").as("a"))
          .join(bl.select(col("oid").as("oid2"), col("brand").as("b")),
            col("oid") === col("oid2"))
          .groupBy(col("a"), col("b")).agg(count(lit(1)).as("c"))
        val baskets = bl.select(col("oid")).distinct()
          .select(lit("").as("a"), lit("").as("b"))
          .groupBy(col("a"), col("b")).agg(count(lit(1)).as("c"))
        val digest = pairs.unionByName(baskets)
          .collect()
          .map(r => ((r.getString(0), r.getString(1)), r.getLong(2))).toMap
        // empty-input degenerate case: no baskets -> empty rule set
        // (matches the oracle's zero-row shape), never a lookup crash
        val n = digest.getOrElse(("", ""), 0L)
        val singles = digest.collect {
          case ((a, b), c) if a == b && a.nonEmpty => a -> c }
        // Spark's round(double, 6) is BigDecimal.valueOf + HALF_UP —
        // mirrored exactly so the driver-side math hashes identically
        val rules = digest.toSeq
          .collect { case ((a, b), cab) if a != b && cab * 100 >= n =>
            val ca = singles(a); val cb = singles(b)
            val lift = java.math.BigDecimal.valueOf(
                cab.toDouble * n.toDouble / (ca.toDouble * cb.toDouble))
              .setScale(6, java.math.RoundingMode.HALF_UP).doubleValue()
            (a, b, cab * 1000000L / n, cab * 1000000L / ca, lift)
          }
          .sortBy { case (a, b, _, _, lift) => (-lift, a, b) }
          .take(20)
        import s.implicits._
        rules.toDF("brand_a", "brand_b", "support_ppm",
          "confidence_ppm", "lift")
      },
      Some("""WITH bl AS (SELECT DISTINCT l_orderkey AS oid,
             |    p_brand AS brand
             |  FROM lineitem JOIN part ON l_partkey = p_partkey),
             |nb AS (SELECT count(DISTINCT oid)::BIGINT AS n FROM bl),
             |singles AS (SELECT brand, count(*)::BIGINT AS cs FROM bl
             |  GROUP BY 1),
             |pairs AS (SELECT a.brand AS brand_a, b.brand AS brand_b,
             |    count(*)::BIGINT AS cab
             |  FROM bl a JOIN bl b ON a.oid = b.oid
             |    AND a.brand <> b.brand
             |  GROUP BY 1, 2)
             |SELECT brand_a, brand_b,
             |  (cab * 1000000 // n)::BIGINT AS support_ppm,
             |  (cab * 1000000 // ca.cs)::BIGINT AS confidence_ppm,
             |  round(cab::DOUBLE * n::DOUBLE
             |    / (ca.cs::DOUBLE * cb.cs::DOUBLE), 6) AS lift
             |FROM pairs
             |JOIN singles ca ON ca.brand = brand_a
             |JOIN singles cb ON cb.brand = brand_b, nb
             |WHERE cab * 100 >= n
             |ORDER BY lift DESC, brand_a, brand_b LIMIT 20""".stripMargin)),

    // Getis-Ord Gi* hot-spot statistic (Getis & Ord 1992; Ord & Getis
    // 1995) on the day-of-week × hour torus lattice — WHERE in the
    // weekly rhythm is traffic significantly hot or cold? The 168-cell
    // spine is generated (missing cells are real zeros, not absent
    // rows); the neighborhood is rook + self on the wrapped grid
    // (W_i = 5 everywhere, so the denominator is one global form).
    // Neighbor sums are exact integers via a 5-offset explode-join on
    // the digest; Gi* = (Σ_j w x_j − 5x̄)/(S√((5n − 25)/(n−1))).
    // Top-10 by |z|. 100 TB: one fact-sized aggregate, then 168 rows.
    QueryDef("q_getis_ord",
      (s, d) => {
        val cnt = graft.sources.Tables.events(s, d)
          .groupBy((dayofweek(col("ts")) - 1).as("dw"),
            hour(col("ts")).as("hr"))
          .agg(count(lit(1)).as("c"))
        val spine = s.range(7).select(col("id").as("dw"))
          .crossJoin(s.range(24).select(col("id").as("hr")))
        val grid = spine.join(cnt, Seq("dw", "hr"), "left")
          .select(col("dw"), col("hr"),
            coalesce(col("c"), lit(0L)).as("x"))
        val tot = broadcast(grid.agg(count(lit(1)).as("n"),
          sum(col("x")).as("sx"), sum(col("x") * col("x")).as("qx")))
        val nbr = grid.select(col("dw"), col("hr"),
            explode(array(
              struct(col("dw").as("ndw"), col("hr").as("nhr")),
              struct(pmod(col("dw") + 1, lit(7)).as("ndw"),
                col("hr").as("nhr")),
              struct(pmod(col("dw") + 6, lit(7)).as("ndw"),
                col("hr").as("nhr")),
              struct(col("dw").as("ndw"),
                pmod(col("hr") + 1, lit(24)).as("nhr")),
              struct(col("dw").as("ndw"),
                pmod(col("hr") + 23, lit(24)).as("nhr")))).as("nb"))
          .select(col("dw"), col("hr"), col("nb.ndw").as("ndw"),
            col("nb.nhr").as("nhr"))
          .join(grid.select(col("dw").as("ndw"), col("hr").as("nhr"),
            col("x").as("nx")), Seq("ndw", "nhr"))
          .groupBy(col("dw"), col("hr"))
          .agg(sum(col("nx")).as("nsum"))
        def dbl(c: String) = col(c).cast("double")
        val xbar = dbl("sx") / dbl("n")
        val s2 = sqrt(dbl("qx") / dbl("n") - xbar * xbar)
        val z = (dbl("nsum") - xbar * 5.0) /
          (s2 * sqrt((dbl("n") * 5.0 - 25.0) / (dbl("n") - 1.0)))
        nbr.crossJoin(tot)
          .select(col("dw"), col("hr"), col("nsum"),
            round(z, 4).as("gi_z"))
          .orderBy(abs(col("gi_z")).desc, col("dw"), col("hr"))
          .limit(10)
      },
      Some("""WITH cnt AS (SELECT dayofweek(ts)::BIGINT AS dw,
             |    hour(ts)::BIGINT AS hr, count(*)::BIGINT AS c
             |  FROM events GROUP BY 1, 2),
             |spine AS (SELECT d.d AS dw, h.h AS hr
             |  FROM (SELECT unnest(generate_series(0, 6))::BIGINT AS d) d,
             |    (SELECT unnest(generate_series(0, 23))::BIGINT AS h) h),
             |grid AS (SELECT spine.dw, spine.hr,
             |    coalesce(cnt.c, 0)::BIGINT AS x
             |  FROM spine LEFT JOIN cnt
             |    ON spine.dw = cnt.dw AND spine.hr = cnt.hr),
             |tot AS (SELECT count(*)::BIGINT AS n, sum(x)::BIGINT AS sx,
             |    sum(x * x)::BIGINT AS qx FROM grid),
             |nbr AS (SELECT g.dw, g.hr, sum(n2.x)::BIGINT AS nsum
             |  FROM grid g
             |  JOIN grid n2 ON (n2.dw = g.dw AND n2.hr = g.hr)
             |    OR (n2.dw = (g.dw + 1) % 7 AND n2.hr = g.hr)
             |    OR (n2.dw = (g.dw + 6) % 7 AND n2.hr = g.hr)
             |    OR (n2.dw = g.dw AND n2.hr = (g.hr + 1) % 24)
             |    OR (n2.dw = g.dw AND n2.hr = (g.hr + 23) % 24)
             |  GROUP BY 1, 2)
             |SELECT dw, hr, nsum,
             |  round((nsum::DOUBLE - sx::DOUBLE / n::DOUBLE * 5.0)
             |    / (sqrt(qx::DOUBLE / n::DOUBLE - (sx::DOUBLE / n::DOUBLE)
             |        * (sx::DOUBLE / n::DOUBLE))
             |      * sqrt((n::DOUBLE * 5.0 - 25.0) / (n::DOUBLE - 1.0))),
             |    4) AS gi_z
             |FROM nbr, tot
             |ORDER BY abs(round((nsum::DOUBLE - sx::DOUBLE / n::DOUBLE
             |      * 5.0)
             |    / (sqrt(qx::DOUBLE / n::DOUBLE - (sx::DOUBLE / n::DOUBLE)
             |        * (sx::DOUBLE / n::DOUBLE))
             |      * sqrt((n::DOUBLE * 5.0 - 25.0) / (n::DOUBLE - 1.0))),
             |    4)) DESC, dw, hr
             |LIMIT 10""".stripMargin)),

    // Temporal Ripley K (Ripley 1977, 1-D form) of the event point
    // process at h ∈ {60 s, 300 s, 3600 s}: K̂(h) = T·P_h/(n(n−1))
    // where P_h counts ordered pairs within h — the clustering
    // diagnostic whose CSR benchmark is K(h) = 2h, reported as
    // l_ratio = K̂/(2h) (>1 ⇒ clustered, <1 ⇒ inhibited). The pair
    // count is ONE banded self-join on 3600 s buckets (each event
    // joins its own ± neighbor buckets only — never all-pairs) with
    // the three radii as conditional sums off the same join. Pair
    // counts are exact integers; T and the ratios are one-row doubles.
    QueryDef("q_ripley_k",
      (s, d) => {
        val ev = graft.sources.Tables.events(s, d)
          .select(col("event_id").as("eid"),
            expr("unix_micros(ts)").as("us"))
        val b = ev.withColumn("bk", expr("us div 3600000000"))
        val span = broadcast(ev.agg(count(lit(1)).as("n"),
          (max(col("us")) - min(col("us"))).as("t_us")))
        val pairs = b.select(col("eid"), col("us"),
            explode(array(col("bk") - 1, col("bk"), col("bk") + 1))
              .as("jb"))
          // r17 HotProbe: tiny bytes through the join exchange let AQE
          // coalesce the banded pair join onto ONE task (535 ms serial)
          // — pin the probe side at runtime width (scale-adaptive, and
          // the explicit count survives AQE)
          .repartition(s.sparkContext.defaultParallelism, col("jb"))
          .join(b.select(col("eid").as("eid2"), col("us").as("us2"),
            col("bk").as("jb")), Seq("jb"))
          .filter(col("eid") =!= col("eid2"))
          .agg(
            sum(when(abs(col("us") - col("us2")) <= 60000000L, 1L)
              .otherwise(0L)).as("p60"),
            sum(when(abs(col("us") - col("us2")) <= 300000000L, 1L)
              .otherwise(0L)).as("p300"),
            sum(when(abs(col("us") - col("us2")) <= 3600000000L, 1L)
              .otherwise(0L)).as("p3600"))
        def dbl(c: String) = col(c).cast("double")
        // r17: the three per-h rows each replanned the banded
        // self-join — materialize the 1-row pair aggregate once and
        // derive the rows locally (§1.2), 3× fewer pair-join passes.
        val one = pairs.crossJoin(span)
        val oneLocal = QueryDef.digest(s, one)
        val hs = Seq(("p60", 60.0), ("p300", 300.0), ("p3600", 3600.0))
        val rows = hs.map { case (pc, hsec) =>
          oneLocal.select(
            lit(hsec.toLong).as("h_sec"), col(pc).as("pairs"),
            round((dbl("t_us") / 1e6) * dbl(pc) /
              (dbl("n") * (dbl("n") - 1.0)), 4).as("k_hat"),
            round((dbl("t_us") / 1e6) * dbl(pc) /
              (dbl("n") * (dbl("n") - 1.0)) / (2.0 * hsec), 6)
              .as("l_ratio"))
        }
        rows.reduce(_ unionAll _).orderBy(col("h_sec"))
      },
      Some("""WITH ev AS (SELECT event_id AS eid, epoch_us(ts) AS us,
             |    epoch_us(ts) // 3600000000 AS bk FROM events),
             |span AS (SELECT count(*)::BIGINT AS n,
             |    (max(us) - min(us))::BIGINT AS t_us FROM ev),
             |p AS (SELECT
             |    sum(CASE WHEN abs(a.us - c.us) <= 60000000
             |      THEN 1 ELSE 0 END)::BIGINT AS p60,
             |    sum(CASE WHEN abs(a.us - c.us) <= 300000000
             |      THEN 1 ELSE 0 END)::BIGINT AS p300,
             |    sum(CASE WHEN abs(a.us - c.us) <= 3600000000
             |      THEN 1 ELSE 0 END)::BIGINT AS p3600
             |  FROM ev a JOIN ev c
             |    ON c.bk BETWEEN a.bk - 1 AND a.bk + 1
             |    AND a.eid <> c.eid),
             |hh AS (SELECT unnest([60, 300, 3600])::BIGINT AS h_sec)
             |SELECT h_sec,
             |  CASE h_sec WHEN 60 THEN p60 WHEN 300 THEN p300
             |    ELSE p3600 END AS pairs,
             |  round((t_us::DOUBLE / 1e6)
             |    * (CASE h_sec WHEN 60 THEN p60 WHEN 300 THEN p300
             |      ELSE p3600 END)::DOUBLE
             |    / (n::DOUBLE * (n::DOUBLE - 1.0)), 4) AS k_hat,
             |  round((t_us::DOUBLE / 1e6)
             |    * (CASE h_sec WHEN 60 THEN p60 WHEN 300 THEN p300
             |      ELSE p3600 END)::DOUBLE
             |    / (n::DOUBLE * (n::DOUBLE - 1.0))
             |    / (2.0 * h_sec::DOUBLE), 6) AS l_ratio
             |FROM p, span, hh
             |ORDER BY h_sec""".stripMargin)),

    // The 100 TB twin of q_ripley_k: SECOND-GRID Ripley K. The banded
    // µs-exact pair join above is the small-scale baseline — its pair
    // count grows quadratically with density by the statistic's own
    // nature. This twin collapses facts to the span-bounded per-second
    // digest first (grid size is fixed by the TIME SPAN, independent
    // of corpus size), then counts pairs as Σ_t c_t·W_h(t) − n where
    // W_h(t) = Σ_{|t'−t|≤h} c_{t'} comes from ONE ordered RANGE-frame
    // window over the grid (absent seconds are implicit zeros — RANGE
    // frames are value-based, so gaps cost nothing). Second-resolution
    // distances; products in DECIMAL(38,0) (c·W overflows int64 at
    // extreme density). O(grid) after one fact-sized aggregate.
    QueryDef("q_ripley_k_grid",
      (s, d) => {
        val sec = graft.sources.Tables.events(s, d)
          .groupBy(expr("unix_micros(ts) div 1000000").as("t"))
          .agg(count(lit(1)).as("c"))
        val tot = broadcast(sec.agg(sum(col("c")).as("n"),
          (max(col("t")) - min(col("t"))).as("t_span")))
        // r17 window audit: the ±h range windows ran UNPARTITIONED over
        // the per-second digest — measured 9,980 rows through one task
        // at sf0.01 → 98,157 at sf0.1 (×9.8, data-sized: the digest
        // grows with the covered time span). Two-pass fix: replicate
        // each second into its own time block and both neighbors
        // (block = 7200 s > 2·h_max, so every row within ±3600 s of an
        // owned row is present in its partition exactly once), run the
        // same range windows PARTITIONED by block, and keep each row's
        // own-block copy — bit-identical window sums, no task ever
        // holds more than three blocks of seconds.
        val BlkSec = 7200L
        val blocks = sec.select(col("t"), col("c"),
            explode(array(lit(-1L), lit(0L), lit(1L))).as("__db"))
          .select(col("t"), col("c"),
            (expr(s"t div $BlkSec") + col("__db")).as("__blk"),
            (col("__db") === 0L).as("__own"))
          // r17 HotProbe: the digest's bytes are so small that AQE
          // coalesced the block-window exchange onto ONE task (1.46 s
          // serial — the whole query's hot stage). Pin the window's
          // partition count at the runtime width; the explicit count
          // survives AQE, satisfies the window's ClusteredDistribution
          // (no second exchange), and tracks the cluster, not a host
          // constant.
          .repartition(s.sparkContext.defaultParallelism, col("__blk"))
        def wsum(h: Long) = sum(col("c")).over(
          Window.partitionBy(col("__blk")).orderBy(col("t"))
            .rangeBetween(-h, h))
        val dec = "decimal(38,0)"
        val ws = blocks
          .withColumn("w60", wsum(60L)).withColumn("w300", wsum(300L))
          .withColumn("w3600", wsum(3600L))
          .filter(col("__own"))
          .agg(sum(col("c").cast(dec) * col("w60")).as("s60"),
            sum(col("c").cast(dec) * col("w300")).as("s300"),
            sum(col("c").cast(dec) * col("w3600")).as("s3600"))
        def dbl(c: String) = col(c).cast("double")
        // r17: the three per-h output rows each replanned the WHOLE
        // pipeline (sec agg → ×3 block replicate → three range windows
        // → product agg) — the union executed it three times. The
        // aggregate is ONE row: materialize it once as a local digest
        // and derive the three rows from that (§1.2 don't recompute
        // what you throw away; same discipline as QueryDef.digest
        // everywhere else).
        val one = ws.crossJoin(tot)
        val oneLocal = QueryDef.digest(s, one)
        val rows = Seq(("s60", 60.0), ("s300", 300.0), ("s3600", 3600.0))
          .map { case (sc, hsec) =>
            oneLocal.select(
              lit(hsec.toLong).as("h_sec"),
              (col(sc) - col("n")).cast("long").as("pairs"),
              round(dbl("t_span") * (col(sc) - col("n")).cast("double") /
                (dbl("n") * (dbl("n") - 1.0)), 4).as("k_hat"),
              round(dbl("t_span") * (col(sc) - col("n")).cast("double") /
                (dbl("n") * (dbl("n") - 1.0)) / (2.0 * hsec), 6)
                .as("l_ratio"))
          }
        rows.reduce(_ unionAll _).orderBy(col("h_sec"))
      },
      Some("""WITH sec AS (SELECT epoch_us(ts) // 1000000 AS t,
             |    count(*)::BIGINT AS c FROM events GROUP BY 1),
             |tot AS (SELECT sum(c)::BIGINT AS n,
             |    (max(t) - min(t))::BIGINT AS t_span FROM sec),
             |w AS (SELECT c,
             |    sum(c) OVER (ORDER BY t RANGE BETWEEN 60 PRECEDING
             |      AND 60 FOLLOWING) AS w60,
             |    sum(c) OVER (ORDER BY t RANGE BETWEEN 300 PRECEDING
             |      AND 300 FOLLOWING) AS w300,
             |    sum(c) OVER (ORDER BY t RANGE BETWEEN 3600 PRECEDING
             |      AND 3600 FOLLOWING) AS w3600
             |  FROM sec),
             |ws AS (SELECT sum(c::HUGEINT * w60) AS s60,
             |    sum(c::HUGEINT * w300) AS s300,
             |    sum(c::HUGEINT * w3600) AS s3600
             |  FROM w),
             |hh AS (SELECT unnest([60, 300, 3600])::BIGINT AS h_sec)
             |SELECT h_sec,
             |  (CASE h_sec WHEN 60 THEN s60 WHEN 300 THEN s300
             |    ELSE s3600 END - n)::BIGINT AS pairs,
             |  round(t_span::DOUBLE
             |    * (CASE h_sec WHEN 60 THEN s60 WHEN 300 THEN s300
             |      ELSE s3600 END - n)::DOUBLE
             |    / (n::DOUBLE * (n::DOUBLE - 1.0)), 4) AS k_hat,
             |  round(t_span::DOUBLE
             |    * (CASE h_sec WHEN 60 THEN s60 WHEN 300 THEN s300
             |      ELSE s3600 END - n)::DOUBLE
             |    / (n::DOUBLE * (n::DOUBLE - 1.0))
             |    / (2.0 * h_sec::DOUBLE), 6) AS l_ratio
             |FROM ws, tot, hh
             |ORDER BY h_sec""".stripMargin)),

    // Natural visibility graph (Lacasa et al. 2008) of the daily
    // series: days a < b are linked iff every day c strictly between
    // them sits below the sight line — the cross-multiplied integer
    // test (y_c − y_a)(t_b − t_a) < (y_b − y_a)(t_c − t_a), no float
    // slopes, no ties ambiguity. Edges = all pairs MINUS pairs with a
    // blocking interior day (one between-join + left-anti). The graph
    // view of a time series that turns periodicity into hubs. All
    // work is digest-sized: ~n³/6 interior checks on the CALENDAR
    // digest, never on facts.
    QueryDef("q_visibility_graph",
      (s, d) => {
        val daily = graft.sources.Tables.events(s, d)
          .groupBy(to_date(col("ts")).as("day"))
          .agg(count(lit(1)).as("y"))
          .withColumn("t",
            (row_number().over(Window.orderBy(col("day"))) - 1)
              .cast("long"))
          .select(col("t"), col("y"))
        val p = daily.select(col("t").as("ta"), col("y").as("ya"))
          .join(daily.select(col("t").as("tb"), col("y").as("yb")),
            col("ta") < col("tb"))
        val blocked = p.join(daily.select(col("t").as("tc"),
              col("y").as("yc")),
            col("tc") > col("ta") && col("tc") < col("tb") &&
            (col("yc") - col("ya")) * (col("tb") - col("ta")) >=
              (col("yb") - col("ya")) * (col("tc") - col("ta")))
          .select(col("ta"), col("tb")).distinct()
        val edges = p.join(blocked, Seq("ta", "tb"), "left_anti")
        val deg = edges.select(explode(array(col("ta"), col("tb")))
            .as("nd"))
          .groupBy(col("nd")).agg(count(lit(1)).as("dg"))
        edges.agg(count(lit(1)).as("n_edges"))
          .crossJoin(broadcast(daily.agg(count(lit(1)).as("n_nodes"))))
          .crossJoin(broadcast(deg.agg(max(col("dg")).as("max_degree"))))
          .select(col("n_nodes"), col("n_edges"),
            round(lit(2.0) * col("n_edges").cast("double") /
              col("n_nodes").cast("double"), 6).as("mean_degree"),
            col("max_degree"))
      },
      Some("""WITH daily AS (SELECT row_number() OVER (ORDER BY day) - 1
             |      AS t, y FROM (
             |    SELECT ts::DATE AS day, count(*)::BIGINT AS y
             |    FROM events GROUP BY 1)),
             |p AS (SELECT a.t AS ta, a.y AS ya, b.t AS tb, b.y AS yb
             |  FROM daily a JOIN daily b ON a.t < b.t),
             |blocked AS (SELECT DISTINCT ta, tb FROM p
             |  JOIN daily c ON c.t > ta AND c.t < tb
             |    AND (c.y - ya) * (tb - ta) >= (yb - ya) * (c.t - ta)),
             |edges AS (SELECT ta, tb FROM p
             |  WHERE NOT EXISTS (SELECT 1 FROM blocked
             |    WHERE blocked.ta = p.ta AND blocked.tb = p.tb)),
             |deg AS (SELECT nd, count(*)::BIGINT AS dg FROM (
             |    SELECT ta AS nd FROM edges
             |    UNION ALL SELECT tb FROM edges) GROUP BY 1),
             |nn AS (SELECT count(*)::BIGINT AS n_nodes FROM daily),
             |ne AS (SELECT count(*)::BIGINT AS n_edges FROM edges),
             |md AS (SELECT max(dg)::BIGINT AS max_degree FROM deg)
             |SELECT n_nodes, n_edges,
             |  round(2.0 * n_edges::DOUBLE / n_nodes::DOUBLE, 6)
             |    AS mean_degree,
             |  max_degree
             |FROM nn, ne, md""".stripMargin)),

    // Recurrence quantification (Zbilut & Webber 1992) of the daily
    // series with ε = range/10: recurrence rate plus the diagonal
    // (determinism) and vertical (laminarity) 2-point structure
    // fractions — does the system revisit states, and does it do so
    // in runs? R = {(i,j), i<j : |y_i − y_j| ≤ ε} is one
    // digest-sized ε-band self-join; DET₂/LAM₂ re-join R against
    // itself shifted by (1,1)/(0,1). Everything is exact integers
    // until the three final ratios.
    QueryDef("q_recurrence_quant",
      (s, d) => {
        val daily = graft.sources.Tables.events(s, d)
          .groupBy(to_date(col("ts")).as("day"))
          .agg(count(lit(1)).as("y"))
          .withColumn("t",
            (row_number().over(Window.orderBy(col("day"))) - 1)
              .cast("long"))
          .select(col("t"), col("y"))
        val eps = broadcast(daily.agg(count(lit(1)).as("n"),
          expr("(max(y) - min(y)) div 10").as("eps")))
        val r = daily.select(col("t").as("i"), col("y").as("yi"))
          .join(daily.select(col("t").as("j"), col("y").as("yj")),
            col("i") < col("j"))
          .crossJoin(eps)
          .filter(abs(col("yi") - col("yj")) <= col("eps"))
          .select(col("i"), col("j"))
        val rp = r.persist()
        val d2 = rp.join(rp.select((col("i") - 1).as("i"),
          (col("j") - 1).as("j")), Seq("i", "j"), "left_semi")
        val v2 = rp.join(rp.select(col("i"),
          (col("j") - 1).as("j")), Seq("i", "j"), "left_semi")
        def dbl(c: String) = col(c).cast("double")
        QueryDef.digest(s, rp.agg(count(lit(1)).as("n_recur"))
          .crossJoin(broadcast(d2.agg(count(lit(1)).as("nd2"))))
          .crossJoin(broadcast(v2.agg(count(lit(1)).as("nv2"))))
          .crossJoin(eps)
          .select(col("n").as("n_days"), col("eps"), col("n_recur"),
            round(lit(2.0) * dbl("n_recur") / (dbl("n") * dbl("n")), 6)
              .as("rr"),
            round(dbl("nd2") / dbl("n_recur"), 6).as("det2_frac"),
            round(dbl("nv2") / dbl("n_recur"), 6).as("lam2_frac")), rp)
      },
      Some("""WITH daily AS (SELECT row_number() OVER (ORDER BY day) - 1
             |      AS t, y FROM (
             |    SELECT ts::DATE AS day, count(*)::BIGINT AS y
             |    FROM events GROUP BY 1)),
             |ep AS (SELECT count(*)::BIGINT AS n,
             |    ((max(y) - min(y)) // 10)::BIGINT AS eps FROM daily),
             |r AS MATERIALIZED (SELECT a.t AS i, b.t AS j
             |  FROM daily a JOIN daily b ON a.t < b.t, ep
             |  WHERE abs(a.y - b.y) <= ep.eps),
             |d2 AS (SELECT count(*)::BIGINT AS nd2 FROM r
             |  WHERE EXISTS (SELECT 1 FROM r r2
             |    WHERE r2.i = r.i + 1 AND r2.j = r.j + 1)),
             |v2 AS (SELECT count(*)::BIGINT AS nv2 FROM r
             |  WHERE EXISTS (SELECT 1 FROM r r2
             |    WHERE r2.i = r.i AND r2.j = r.j + 1)),
             |nr AS (SELECT count(*)::BIGINT AS n_recur FROM r)
             |SELECT n AS n_days, eps, n_recur,
             |  round(2.0 * n_recur::DOUBLE / (n::DOUBLE * n::DOUBLE), 6)
             |    AS rr,
             |  round(nd2::DOUBLE / n_recur::DOUBLE, 6) AS det2_frac,
             |  round(nv2::DOUBLE / n_recur::DOUBLE, 6) AS lam2_frac
             |FROM nr, d2, v2, ep""".stripMargin)),

    // D'Agostino K² omnibus normality test (D'Agostino 1970;
    // D'Agostino & Pearson 1973) on event value: the skewness and
    // excess-kurtosis z-transforms (Johnson SU for √b₁, Anscombe-
    // Glynn cube-root for b₂) combined as K² = Z₁² + Z₂² ~ χ²₂. The
    // ENTIRE test reduces to five exact integer power sums
    // (n, Σx, Σx², Σx³, Σx⁴) in one map-side-combined aggregate —
    // DECIMAL(38,0) because Σvm⁴ overflows int64 past ~9M rows. The
    // z-transforms are closed-form doubles on the one-row digest
    // (cbrt, not pow(·,1/3): pow of a negative base is NaN on both
    // engines, cbrt is signed on both).
    QueryDef("q_dagostino_k2",
      (s, d) => {
        val dec = "decimal(38,0)"
        val v = graft.sources.Tables.events(s, d)
          .select(floor(col("value") * 1000).cast("long").as("vm"))
          .select(col("vm").cast(dec).as("x"))
        val g = v.agg(count(lit(1)).as("n"), sum(col("x")).as("s1"),
          sum(col("x") * col("x")).as("s2"),
          sum(col("x") * col("x") * col("x")).as("s3"),
          sum(col("x") * col("x") * col("x") * col("x")).as("s4"))
        def dbl(c: String) = col(c).cast("double")
        val n = dbl("n")
        val m = dbl("s1") / n
        val m2 = dbl("s2") / n - m * m
        val m3 = dbl("s3") / n - lit(3.0) * m * (dbl("s2") / n) +
          lit(2.0) * m * m * m
        val m4 = dbl("s4") / n - lit(4.0) * m * (dbl("s3") / n) +
          lit(6.0) * m * m * (dbl("s2") / n) - lit(3.0) * m * m * m * m
        val g1 = m3 / (m2 * sqrt(m2))
        val g2 = m4 / (m2 * m2) - 3.0
        val y = g1 * sqrt((n + 1.0) * (n + 3.0) / (lit(6.0) * (n - 2.0)))
        val beta2 = lit(3.0) * (n * n + lit(27.0) * n - 70.0) *
          (n + 1.0) * (n + 3.0) /
          ((n - 2.0) * (n + 5.0) * (n + 7.0) * (n + 9.0))
        val w2 = sqrt(lit(2.0) * (beta2 - 1.0)) - 1.0
        val delta = lit(1.0) / sqrt(lit(0.5) * log(w2))
        val alpha = sqrt(lit(2.0) / (w2 - 1.0))
        val z1 = delta * log(y / alpha + sqrt(y / alpha * (y / alpha) +
          1.0))
        val ek = lit(3.0) * (n - 1.0) / (n + 1.0)
        val vk = lit(24.0) * n * (n - 2.0) * (n - 3.0) /
          ((n + 1.0) * (n + 1.0) * (n + 3.0) * (n + 5.0))
        val xk = (g2 + 3.0 - ek) / sqrt(vk)
        val b1 = lit(6.0) * (n * n - lit(5.0) * n + 2.0) /
          ((n + 7.0) * (n + 9.0)) *
          sqrt(lit(6.0) * (n + 3.0) * (n + 5.0) /
            (n * (n - 2.0) * (n - 3.0)))
        val a = lit(6.0) + lit(8.0) / b1 *
          (lit(2.0) / b1 + sqrt(lit(1.0) + lit(4.0) / (b1 * b1)))
        val z2 = ((lit(1.0) - lit(2.0) / (lit(9.0) * a)) -
          cbrt((lit(1.0) - lit(2.0) / a) /
            (lit(1.0) + xk * sqrt(lit(2.0) / (a - 4.0))))) *
          sqrt(lit(9.0) * a / 2.0)
        g.select(col("n"), round(g1, 6).as("skew"),
          round(g2, 6).as("ex_kurtosis"), round(z1, 4).as("z_skew"),
          round(z2, 4).as("z_kurt"),
          round(z1 * z1 + z2 * z2, 4).as("k2_stat"))
      },
      Some("""WITH v AS (SELECT floor(value * 1000)::HUGEINT AS x
             |  FROM events),
             |g AS (SELECT count(*)::BIGINT AS n, sum(x) AS s1,
             |    sum(x * x) AS s2, sum(x * x * x) AS s3,
             |    sum(x * x * x * x) AS s4 FROM v),
             |mm AS (SELECT n::DOUBLE AS n,
             |    s1::DOUBLE / n::DOUBLE AS m,
             |    s2::DOUBLE / n::DOUBLE AS r2,
             |    s3::DOUBLE / n::DOUBLE AS r3,
             |    s4::DOUBLE / n::DOUBLE AS r4 FROM g),
             |cm AS (SELECT n, r2 - m * m AS m2,
             |    r3 - 3.0 * m * r2 + 2.0 * m * m * m AS m3,
             |    r4 - 4.0 * m * r3 + 6.0 * m * m * r2
             |      - 3.0 * m * m * m * m AS m4 FROM mm),
             |gg AS (SELECT n, m3 / (m2 * sqrt(m2)) AS g1,
             |    m4 / (m2 * m2) - 3.0 AS g2 FROM cm),
             |t1 AS (SELECT n, g1, g2,
             |    g1 * sqrt((n + 1.0) * (n + 3.0) / (6.0 * (n - 2.0)))
             |      AS y,
             |    sqrt(2.0 * (3.0 * (n * n + 27.0 * n - 70.0)
             |        * (n + 1.0) * (n + 3.0)
             |        / ((n - 2.0) * (n + 5.0) * (n + 7.0) * (n + 9.0))
             |      - 1.0)) - 1.0 AS w2
             |  FROM gg),
             |tz1 AS (SELECT n, g1, g2,
             |    (1.0 / sqrt(0.5 * ln(w2)))
             |      * ln(y / sqrt(2.0 / (w2 - 1.0))
             |        + sqrt(y / sqrt(2.0 / (w2 - 1.0))
             |          * (y / sqrt(2.0 / (w2 - 1.0))) + 1.0)) AS z1
             |  FROM t1),
             |t2 AS (SELECT n, g1, g2, z1,
             |    (g2 + 3.0 - 3.0 * (n - 1.0) / (n + 1.0))
             |      / sqrt(24.0 * n * (n - 2.0) * (n - 3.0)
             |        / ((n + 1.0) * (n + 1.0) * (n + 3.0) * (n + 5.0)))
             |      AS xk,
             |    6.0 * (n * n - 5.0 * n + 2.0)
             |      / ((n + 7.0) * (n + 9.0))
             |      * sqrt(6.0 * (n + 3.0) * (n + 5.0)
             |        / (n * (n - 2.0) * (n - 3.0))) AS b1
             |  FROM tz1),
             |t3 AS (SELECT n, g1, g2, z1, xk,
             |    6.0 + 8.0 / b1
             |      * (2.0 / b1 + sqrt(1.0 + 4.0 / (b1 * b1))) AS a
             |  FROM t2),
             |tz2 AS (SELECT n, g1, g2, z1,
             |    ((1.0 - 2.0 / (9.0 * a))
             |      - cbrt((1.0 - 2.0 / a)
             |        / (1.0 + xk * sqrt(2.0 / (a - 4.0)))))
             |      * sqrt(9.0 * a / 2.0) AS z2
             |  FROM t3)
             |SELECT n::BIGINT AS n, round(g1, 6) AS skew,
             |  round(g2, 6) AS ex_kurtosis, round(z1, 4) AS z_skew,
             |  round(z2, 4) AS z_kurt,
             |  round(z1 * z1 + z2 * z2, 4) AS k2_stat
             |FROM tz2""".stripMargin)),

    // Brunner-Munzel test (Brunner & Munzel 2000) for purchase vs
    // click values — the nonparametric Behrens-Fisher solution: tests
    // P(X < Y) + ½P(X = Y) = ½ WITHOUT assuming equal variances (the
    // Mann-Whitney blind spot). Everything reduces to exact integers
    // on the value-cell digest: 2·midranks (global AND within-group)
    // are integers, and the rank-variance terms clear to integers
    // after scaling by 2n_i — so both σ̂² sums are exact DECIMAL
    // reductions at any partition layout. Doubles only in the final
    // W, p̂ and Welch df projections.
    QueryDef("q_brunner_munzel",
      (s, d) => {
        val v = graft.sources.Tables.events(s, d)
          .filter(col("event_type").isin("purchase", "click"))
          .select((col("event_type") === "purchase").as("g"),
            floor(col("value") * 1000).cast("long").as("vm"))
        val cell = v.groupBy(col("vm")).agg(count(lit(1)).as("t"))
        val cc = cell.withColumn("below",
          coalesce(sum(col("t")).over(Window.orderBy(col("vm"))
            .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
        val gc = v.groupBy(col("g"), col("vm"))
          .agg(count(lit(1)).as("c"))
          .withColumn("belowg",
            coalesce(sum(col("c")).over(Window.partitionBy(col("g"))
              .orderBy(col("vm"))
              .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
        val j = gc.join(broadcast(cc), "vm")
          .select(col("g"), col("c"),
            (lit(2L) * col("below") + col("t") + 1L).as("r2"),
            (lit(2L) * col("belowg") + col("c") + 1L).as("rg2"))
        val wg = Window.partitionBy(col("g"))
        val terms = j
          .withColumn("ni", sum(col("c")).over(wg))
          .withColumn("s2i",
            sum(col("c").cast("decimal(38,0)") * col("r2")).over(wg))
          .withColumn("tm",
            col("ni").cast("decimal(38,0)") * col("r2") -
            col("ni").cast("decimal(38,0)") * col("rg2") -
            col("s2i") + col("ni").cast("decimal(38,0)") *
              (col("ni") + 1L))
        val gstat = terms.groupBy(col("g"))
          .agg(max(col("ni")).as("ni"), max(col("s2i")).as("s2i"),
            sum(col("c").cast("decimal(38,0)") * col("tm") * col("tm"))
              .as("q"))
        def pick(gv: Boolean, c: String, nm: String) =
          max(when(col("g") === gv, col(c))).as(nm)
        val one = gstat.agg(
          pick(true, "ni", "n1"), pick(true, "s2i", "sa"),
          pick(true, "q", "qa"),
          pick(false, "ni", "n2"), pick(false, "s2i", "sb"),
          pick(false, "q", "qb"))
        def dbl(c: String) = col(c).cast("double")
        val n1 = dbl("n1")
        val n2 = dbl("n2")
        val ra = dbl("sa") / (lit(2.0) * n1)
        val rb = dbl("sb") / (lit(2.0) * n2)
        val v1 = dbl("qa") / (lit(4.0) * n1 * n1 * (n1 - 1.0))
        val v2 = dbl("qb") / (lit(4.0) * n2 * n2 * (n2 - 1.0))
        val se = sqrt(n1 * v1 + n2 * v2)
        one.select(col("n1"), col("n2"),
          round((ra - (n1 + 1.0) / 2.0) / n2, 6).as("p_hat"),
          round(n1 * n2 * (ra - rb) / ((n1 + n2) * se), 4).as("w_stat"),
          round((n1 * v1 + n2 * v2) * (n1 * v1 + n2 * v2) /
            ((n1 * v1) * (n1 * v1) / (n1 - 1.0) +
              (n2 * v2) * (n2 * v2) / (n2 - 1.0)), 2).as("df"))
      },
      Some("""WITH v AS (SELECT event_type = 'purchase' AS g,
             |    floor(value * 1000)::BIGINT AS vm FROM events
             |  WHERE event_type IN ('purchase', 'click')),
             |cell AS (SELECT vm, count(*)::BIGINT AS t FROM v GROUP BY 1),
             |cc AS (SELECT vm, t, coalesce(sum(t) OVER (ORDER BY vm
             |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
             |    AS below FROM cell),
             |gc AS (SELECT g, vm, count(*)::BIGINT AS c,
             |    coalesce(sum(count(*)) OVER (PARTITION BY g ORDER BY vm
             |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
             |      AS belowg
             |  FROM v GROUP BY 1, 2),
             |j AS (SELECT g, c, 2 * below + t + 1 AS r2,
             |    2 * belowg + c + 1 AS rg2
             |  FROM gc JOIN cc USING (vm)),
             |terms AS (SELECT g, c,
             |    sum(c) OVER (PARTITION BY g) AS ni,
             |    sum(c::HUGEINT * r2) OVER (PARTITION BY g) AS s2i,
             |    r2, rg2 FROM j),
             |tm AS (SELECT g, c, ni, s2i,
             |    ni::HUGEINT * r2 - ni::HUGEINT * rg2 - s2i
             |      + ni::HUGEINT * (ni + 1) AS tmv FROM terms),
             |gstat AS (SELECT g, max(ni)::BIGINT AS ni, max(s2i) AS s2i,
             |    sum(c::HUGEINT * tmv * tmv) AS q FROM tm GROUP BY 1),
             |one AS (SELECT
             |    max(CASE WHEN g THEN ni END)::BIGINT AS n1,
             |    max(CASE WHEN g THEN s2i END) AS sa,
             |    max(CASE WHEN g THEN q END) AS qa,
             |    max(CASE WHEN NOT g THEN ni END)::BIGINT AS n2,
             |    max(CASE WHEN NOT g THEN s2i END) AS sb,
             |    max(CASE WHEN NOT g THEN q END) AS qb
             |  FROM gstat),
             |e AS (SELECT n1, n2,
             |    sa::DOUBLE / (2.0 * n1::DOUBLE) AS ra,
             |    sb::DOUBLE / (2.0 * n2::DOUBLE) AS rb,
             |    qa::DOUBLE / (4.0 * n1::DOUBLE * n1::DOUBLE
             |      * (n1::DOUBLE - 1.0)) AS v1,
             |    qb::DOUBLE / (4.0 * n2::DOUBLE * n2::DOUBLE
             |      * (n2::DOUBLE - 1.0)) AS v2
             |  FROM one)
             |SELECT n1, n2,
             |  round((ra - (n1::DOUBLE + 1.0) / 2.0) / n2::DOUBLE, 6)
             |    AS p_hat,
             |  round(n1::DOUBLE * n2::DOUBLE * (ra - rb)
             |    / ((n1::DOUBLE + n2::DOUBLE)
             |      * sqrt(n1::DOUBLE * v1 + n2::DOUBLE * v2)), 4)
             |    AS w_stat,
             |  round((n1::DOUBLE * v1 + n2::DOUBLE * v2)
             |      * (n1::DOUBLE * v1 + n2::DOUBLE * v2)
             |    / ((n1::DOUBLE * v1) * (n1::DOUBLE * v1)
             |        / (n1::DOUBLE - 1.0)
             |      + (n2::DOUBLE * v2) * (n2::DOUBLE * v2)
             |        / (n2::DOUBLE - 1.0)), 2) AS df
             |FROM e""".stripMargin)),

    // Cucconi location-scale test (Cucconi 1968; Marozzi 2009) for
    // purchase vs click — the single test that catches a shift in
    // EITHER mean or spread, older than and competitive with the
    // better-known Lepage. U uses squared midranks, V squared
    // contrary ranks; C = (U² + V² − 2ρUV)/(2(1−ρ²)). Midrank
    // doubling makes 3·Σc(2R)² and the U/V numerators exact integers
    // (DECIMAL — squared doubled ranks overflow int64), so the only
    // doubles are the three final standardized forms.
    QueryDef("q_cucconi",
      (s, d) => {
        val v = graft.sources.Tables.events(s, d)
          .filter(col("event_type").isin("purchase", "click"))
          .select((col("event_type") === "purchase").as("g"),
            floor(col("value") * 1000).cast("long").as("vm"))
        val cell = v.groupBy(col("vm")).agg(count(lit(1)).as("t"))
        val cc = cell.withColumn("below",
          coalesce(sum(col("t")).over(Window.orderBy(col("vm"))
            .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
        val gc = v.filter(col("g")).groupBy(col("vm"))
          .agg(count(lit(1)).as("c"))
        val tot = broadcast(v.agg(count(lit(1)).as("nn"),
          sum(when(col("g"), 1L).otherwise(0L)).as("n1")))
        val dec = "decimal(38,0)"
        val q = gc.join(broadcast(cc), "vm").crossJoin(tot)
          .select(col("nn"), col("n1"),
            (col("c").cast(dec) *
              ((lit(2L) * col("below") + col("t") + 1L).cast(dec) *
               (lit(2L) * col("below") + col("t") + 1L))).as("q4"),
            (col("c").cast(dec) *
              ((lit(2L) * (col("nn") + 1L) - lit(2L) * col("below") -
                col("t") - 1L).cast(dec) *
               (lit(2L) * (col("nn") + 1L) - lit(2L) * col("below") -
                col("t") - 1L))).as("q4c"))
          .groupBy(col("nn"), col("n1"))
          .agg(sum(col("q4")).as("q4"), sum(col("q4c")).as("q4c"))
        def dbl(c: String) = col(c).cast("double")
        val nn = dbl("nn")
        val n1 = dbl("n1")
        val n2 = nn - n1
        val den = lit(2.0) * sqrt(n1 * n2 * (nn + 1.0) *
          (lit(2.0) * nn + 1.0) * (lit(8.0) * nn + 11.0) / 5.0)
        val u = (lit(3.0) * dbl("q4") -
          lit(2.0) * n1 * (nn + 1.0) * (lit(2.0) * nn + 1.0)) / den
        val vv = (lit(3.0) * dbl("q4c") -
          lit(2.0) * n1 * (nn + 1.0) * (lit(2.0) * nn + 1.0)) / den
        val rho = lit(2.0) * (nn * nn - 4.0) /
          ((lit(2.0) * nn + 1.0) * (lit(8.0) * nn + 11.0)) - 1.0
        q.select(col("n1"), (col("nn") - col("n1")).as("n2"),
          round(u, 4).as("u_stat"), round(vv, 4).as("v_stat"),
          round((u * u + vv * vv - lit(2.0) * rho * u * vv) /
            (lit(2.0) * (lit(1.0) - rho * rho)), 4).as("c_stat"))
      },
      Some("""WITH v AS (SELECT event_type = 'purchase' AS g,
             |    floor(value * 1000)::BIGINT AS vm FROM events
             |  WHERE event_type IN ('purchase', 'click')),
             |cell AS (SELECT vm, count(*)::BIGINT AS t FROM v GROUP BY 1),
             |cc AS (SELECT vm, t, coalesce(sum(t) OVER (ORDER BY vm
             |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
             |    AS below FROM cell),
             |gc AS (SELECT vm, count(*)::BIGINT AS c FROM v WHERE g
             |  GROUP BY 1),
             |tot AS (SELECT count(*)::BIGINT AS nn,
             |    sum(CASE WHEN g THEN 1 ELSE 0 END)::BIGINT AS n1 FROM v),
             |q AS (SELECT nn, n1,
             |    sum(c::HUGEINT * ((2 * below + t + 1)::HUGEINT
             |      * (2 * below + t + 1))) AS q4,
             |    sum(c::HUGEINT * ((2 * (nn + 1) - 2 * below - t - 1)
             |      ::HUGEINT
             |      * (2 * (nn + 1) - 2 * below - t - 1))) AS q4c
             |  FROM gc JOIN cc USING (vm), tot
             |  GROUP BY 1, 2),
             |e AS (SELECT n1, nn - n1 AS n2,
             |    (3.0 * q4::DOUBLE - 2.0 * n1::DOUBLE
             |      * (nn::DOUBLE + 1.0) * (2.0 * nn::DOUBLE + 1.0))
             |    / (2.0 * sqrt(n1::DOUBLE * (nn - n1)::DOUBLE
             |      * (nn::DOUBLE + 1.0) * (2.0 * nn::DOUBLE + 1.0)
             |      * (8.0 * nn::DOUBLE + 11.0) / 5.0)) AS u,
             |    (3.0 * q4c::DOUBLE - 2.0 * n1::DOUBLE
             |      * (nn::DOUBLE + 1.0) * (2.0 * nn::DOUBLE + 1.0))
             |    / (2.0 * sqrt(n1::DOUBLE * (nn - n1)::DOUBLE
             |      * (nn::DOUBLE + 1.0) * (2.0 * nn::DOUBLE + 1.0)
             |      * (8.0 * nn::DOUBLE + 11.0) / 5.0)) AS vv,
             |    2.0 * (nn::DOUBLE * nn::DOUBLE - 4.0)
             |      / ((2.0 * nn::DOUBLE + 1.0)
             |        * (8.0 * nn::DOUBLE + 11.0)) - 1.0 AS rho
             |  FROM q)
             |SELECT n1, n2, round(u, 4) AS u_stat,
             |  round(vv, 4) AS v_stat,
             |  round((u * u + vv * vv - 2.0 * rho * u * vv)
             |    / (2.0 * (1.0 - rho * rho)), 4) AS c_stat
             |FROM e""".stripMargin)),

    // Quade test (Quade 1979) — the weighted-blocks alternative to
    // q_friedman_test: days are blocks, event types treatments, and
    // blocks with a WIDER spread count more (block weight = rank of
    // the within-day range). With midranks both 2r and 2Q are
    // integers, so T = (2Q)(2r − k − 1) is exact per cell and
    // F = (n−1)·B/(A − B) clears to integer sums:
    // F = (n−1)·Σ_t(Σ_b T)² / (n·Σ T² − Σ_t(Σ_b T)²). The day matrix
    // is zero-filled by construction (5 conditional sums per day);
    // every window runs over the calendar×5 digest.
    QueryDef("q_quade_test",
      (s, d) => {
        val types = Seq("click", "error", "purchase", "signup", "view")
        val aggs = types.map(t => sum(when(col("event_type") === t, 1L)
          .otherwise(0L)).as(t))
        val daily = graft.sources.Tables.events(s, d)
          .groupBy(to_date(col("ts")).as("day"))
          .agg(aggs.head, aggs.tail: _*)
        val long = daily.select(col("day"),
          expr(s"stack(5, ${types.map(t => s"'$t', $t").mkString(", ")})")
            .as(Seq("tp", "x")))
        val ranked = long
          .withColumn("rk", rank().over(
            Window.partitionBy(col("day")).orderBy(col("x"))))
          .withColumn("tie", count(lit(1)).over(
            Window.partitionBy(col("day"), col("x"))))
          .withColumn("r2", lit(2L) * col("rk") + col("tie") - 1L)
        val rng = daily.select(col("day"),
          (greatest(types.map(col): _*) - least(types.map(col): _*))
            .as("rg"))
        val rcell = rng.groupBy(col("rg")).agg(count(lit(1)).as("t"))
          .withColumn("below",
            coalesce(sum(col("t")).over(Window.orderBy(col("rg"))
              .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
          .select(col("rg"),
            (lit(2L) * col("below") + col("t") + 1L).as("q2"))
        val tcell = ranked.join(rng, "day")
          .join(broadcast(rcell), "rg")
          .select(col("tp"),
            (col("q2").cast("decimal(38,0)") * (col("r2") - 6L))
              .as("tv"))
        val pert = tcell.groupBy(col("tp"))
          .agg(sum(col("tv")).as("st"),
            sum(col("tv") * col("tv")).as("qt"))
        val f = pert.agg(
          sum(col("st") * col("st")).as("bt"), sum(col("qt")).as("at"))
          .crossJoin(broadcast(rng.agg(count(lit(1)).as("n"))))
        def dbl(c: String) = col(c).cast("double")
        f.select(col("n").as("n_days"),
          round((dbl("n") - 1.0) * dbl("bt") /
            (dbl("n") * dbl("at") - dbl("bt")), 4).as("f_stat"),
          lit(4L).as("df1"), ((col("n") - 1L) * 4L).as("df2"))
      },
      Some("""WITH daily AS (SELECT ts::DATE AS day,
             |    sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
             |      ::BIGINT AS c_click,
             |    sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END)
             |      ::BIGINT AS c_error,
             |    sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0
             |      END)::BIGINT AS c_purchase,
             |    sum(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END)
             |      ::BIGINT AS c_signup,
             |    sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END)
             |      ::BIGINT AS c_view
             |  FROM events GROUP BY 1),
             |lng AS (
             |  SELECT day, 'click' AS tp, c_click AS x FROM daily
             |  UNION ALL SELECT day, 'error', c_error FROM daily
             |  UNION ALL SELECT day, 'purchase', c_purchase FROM daily
             |  UNION ALL SELECT day, 'signup', c_signup FROM daily
             |  UNION ALL SELECT day, 'view', c_view FROM daily),
             |ranked AS (SELECT day, tp,
             |    2 * rank() OVER (PARTITION BY day ORDER BY x)
             |      + count(*) OVER (PARTITION BY day, x) - 1 AS r2
             |  FROM lng),
             |rng AS (SELECT day,
             |    greatest(c_click, c_error, c_purchase, c_signup, c_view)
             |      - least(c_click, c_error, c_purchase, c_signup, c_view)
             |      AS rg
             |  FROM daily),
             |rcell AS (SELECT rg, 2 * coalesce(sum(t) OVER (ORDER BY rg
             |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
             |      + t + 1 AS q2
             |  FROM (SELECT rg, count(*)::BIGINT AS t FROM rng
             |    GROUP BY 1)),
             |tcell AS (SELECT ranked.tp,
             |    rcell.q2::HUGEINT * (ranked.r2 - 6) AS tv
             |  FROM ranked JOIN rng USING (day)
             |    JOIN rcell USING (rg)),
             |pert AS (SELECT tp, sum(tv) AS st, sum(tv * tv) AS qt
             |  FROM tcell GROUP BY 1),
             |f AS (SELECT sum(st * st) AS bt, sum(qt) AS at FROM pert),
             |nb AS (SELECT count(*)::BIGINT AS n FROM rng)
             |SELECT n AS n_days,
             |  round((n::DOUBLE - 1.0) * bt::DOUBLE
             |    / (n::DOUBLE * at::DOUBLE - bt::DOUBLE), 4) AS f_stat,
             |  4::BIGINT AS df1, ((n - 1) * 4)::BIGINT AS df2
             |FROM f, nb""".stripMargin)),

    // Zero-inflated Poisson fit (Lambert 1992) by method of moments
    // on the SAME implicit-zero user-week spine as q_poisson_gof —
    // the model that panel's overdispersion verdict points to when
    // the excess is all in the zero class: λ̂ = s²/m + m − 1,
    // π̂ = 1 − m/λ̂ (Beckett et al. 2014). Reports the observed zero
    // fraction next to the ZIP-implied π + (1−π)e^(−λ) so the fit is
    // auditable in one row. Underdispersed input (λ̂ ≤ 0) yields
    // NULLs via the CASE guard on both engines.
    QueryDef("q_zip_fit",
      (s, d) => {
        val ev = graft.sources.Tables.events(s, d)
        val spine = broadcast(ev.agg(
          countDistinct(col("user_id")).as("u"),
          countDistinct(date_trunc("week", col("ts"))).as("w")))
        val pw = ev.filter(col("event_type") === "purchase")
          .groupBy(col("user_id"), date_trunc("week", col("ts")).as("wk"))
          .agg(count(lit(1)).as("k"))
        val nz = pw.agg(sum(col("k")).as("sk"),
          sum(col("k") * col("k")).as("qk"), count(lit(1)).as("nnz"))
        def dbl(c: String) = col(c).cast("double")
        val cells = (col("u") * col("w")).cast("double")
        val m = dbl("sk") / cells
        val vr = (dbl("qk") - dbl("sk") * dbl("sk") / cells) /
          (cells - 1.0)
        val lam = vr / m + m - 1.0
        val pi = lit(1.0) - m / lam
        nz.crossJoin(spine).select(
          (col("u") * col("w")).as("n_cells"),
          round(m, 6).as("mean_k"),
          when(lam > 0.0, round(lam, 6)).as("lambda_zip"),
          when(lam > 0.0, round(pi, 6)).as("pi_zip"),
          round((cells - dbl("nnz")) / cells, 6).as("zero_obs"),
          when(lam > 0.0, round(pi + (lit(1.0) - pi) * exp(-lam), 6))
            .as("zero_fit"))
      },
      Some("""WITH spine AS (SELECT count(DISTINCT user_id)::BIGINT AS u,
             |    count(DISTINCT date_trunc('week', ts))::BIGINT AS w
             |  FROM events),
             |pw AS (SELECT user_id, date_trunc('week', ts) AS wk,
             |    count(*)::BIGINT AS k FROM events
             |  WHERE event_type = 'purchase' GROUP BY 1, 2),
             |nz AS (SELECT sum(k)::BIGINT AS sk,
             |    sum(k * k)::BIGINT AS qk, count(*)::BIGINT AS nnz
             |  FROM pw),
             |e AS (SELECT u * w AS cells,
             |    sk::DOUBLE / (u * w)::DOUBLE AS m,
             |    ((qk::DOUBLE - sk::DOUBLE * sk::DOUBLE
             |        / (u * w)::DOUBLE) / ((u * w)::DOUBLE - 1.0))
             |      / (sk::DOUBLE / (u * w)::DOUBLE)
             |      + sk::DOUBLE / (u * w)::DOUBLE - 1.0 AS lam,
             |    nnz FROM nz, spine)
             |SELECT cells AS n_cells, round(m, 6) AS mean_k,
             |  CASE WHEN lam > 0.0 THEN round(lam, 6) END AS lambda_zip,
             |  CASE WHEN lam > 0.0 THEN round(1.0 - m / lam, 6) END
             |    AS pi_zip,
             |  round((cells::DOUBLE - nnz::DOUBLE) / cells::DOUBLE, 6)
             |    AS zero_obs,
             |  CASE WHEN lam > 0.0 THEN
             |    round((1.0 - m / lam)
             |      + (1.0 - (1.0 - m / lam)) * exp(-lam), 6) END
             |    AS zero_fit
             |FROM e""".stripMargin)),

    // Mean-excess (mean residual life) function at the exact 50/75/90
    // percentile thresholds — THE threshold diagnostic of extreme-
    // value theory: e(u) linear-increasing ⟹ heavy Pareto-type tail
    // (its slope estimates ξ/(1−ξ)), flat ⟹ exponential, decreasing
    // ⟹ short tail. Thresholds come from the exact value-cell digest
    // (cumulative counts, lower-quantile rule), excesses are exact
    // integer conditional sums over the SAME digest — no fact is
    // touched twice, no sort. Complements q_hill_tail's fixed-k
    // estimator with the picture that justifies the threshold.
    QueryDef("q_mean_excess",
      (s, d) => {
        val cell = graft.sources.Tables.events(s, d)
          .select(floor(col("value") * 1000).cast("long").as("vm"))
          .groupBy(col("vm")).agg(count(lit(1)).as("t"))
        val cum = cell.withColumn("cumt",
          sum(col("t")).over(Window.orderBy(col("vm"))
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        val tot = broadcast(cell.agg(sum(col("t")).as("n")))
        val thr = Seq(50L, 75L, 90L).map { p =>
          cum.crossJoin(tot)
            .filter(col("cumt") * 100 >= col("n") * p)
            .agg(min(col("vm")).as("u")).select(lit(p).as("pct"), col("u"))
        }.reduce(_ unionAll _)
        cell.crossJoin(broadcast(thr))
          .filter(col("vm") > col("u"))
          .groupBy(col("pct"), col("u"))
          .agg(sum(col("t")).as("n_exceed"),
            sum((col("vm") - col("u")) * col("t")).as("sx"))
          .select(col("pct"), col("u").as("threshold"), col("n_exceed"),
            round(col("sx").cast("double") /
              col("n_exceed").cast("double"), 4).as("mean_excess"))
          .orderBy(col("pct"))
      },
      Some("""WITH cell AS (SELECT floor(value * 1000)::BIGINT AS vm,
             |    count(*)::BIGINT AS t FROM events GROUP BY 1),
             |cum AS (SELECT vm, t, sum(t) OVER (ORDER BY vm
             |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
             |    AS cumt FROM cell),
             |tot AS (SELECT sum(t)::BIGINT AS n FROM cell),
             |pp AS (SELECT unnest([50, 75, 90])::BIGINT AS pct),
             |thr AS (SELECT pct, min(vm)::BIGINT AS u
             |  FROM cum, tot, pp WHERE cumt * 100 >= n * pct
             |  GROUP BY 1)
             |SELECT pct, u AS threshold, sum(t)::BIGINT AS n_exceed,
             |  round(sum((vm - u) * t)::DOUBLE / sum(t)::DOUBLE, 4)
             |    AS mean_excess
             |FROM cell JOIN thr ON vm > u
             |GROUP BY 1, 2
             |ORDER BY 1""".stripMargin)),

    // Nadaraya-Watson kernel regression (Nadaraya 1964; Watson 1964)
    // of the daily series at 10 evenly spaced grid points, tricube
    // kernel, bandwidth = span/8 — the nonparametric trend smoother
    // between q_ewma_smooth's recursion and q_its_segmented's
    // parametric fit. The scaled abscissa u = 8(9t − j(n−1))/(9(n−1))
    // is an exact rational of integers, the tricube weight is
    // quantized once to 9 dp, and each grid point's weighted sums are
    // exact DECIMAL reductions — order-independent at any layout.
    // Work: calendar-digest × 10, bandwidth-truncated.
    QueryDef("q_kernel_smooth",
      (s, d) => {
        val daily = graft.sources.Tables.events(s, d)
          .groupBy(to_date(col("ts")).as("day"))
          .agg(count(lit(1)).as("y"))
          .withColumn("t",
            (row_number().over(Window.orderBy(col("day"))) - 1)
              .cast("long"))
        val n = broadcast(daily.agg(count(lit(1)).as("n")))
        val grid = s.range(10).select(col("id").as("j"))
        val u = (lit(8.0) * (lit(9.0) * col("t").cast("double") -
          col("j").cast("double") * (col("n").cast("double") - 1.0))) /
          (lit(9.0) * (col("n").cast("double") - 1.0))
        val w = round(pow(lit(1.0) - pow(abs(u), 3.0), 3.0), 9)
          .cast("decimal(20,9)")
        daily.crossJoin(n).crossJoin(broadcast(grid))
          .filter(abs(u) < 1.0)
          .select(col("j"), col("y"), w.as("w"))
          .groupBy(col("j"))
          .agg(sum(col("w") * col("y")).as("num"),
            sum(col("w")).as("den"))
          .select(col("j"),
            round(col("num").cast("double") / col("den").cast("double"),
              4).as("y_hat"))
          .orderBy(col("j"))
      },
      Some("""WITH daily AS (SELECT row_number() OVER (ORDER BY day) - 1
             |      AS t, y FROM (
             |    SELECT ts::DATE AS day, count(*)::BIGINT AS y
             |    FROM events GROUP BY 1)),
             |nn AS (SELECT count(*)::BIGINT AS n FROM daily),
             |grid AS (SELECT unnest(generate_series(0, 9))::BIGINT AS j),
             |uw AS (SELECT j, y,
             |    round(pow(1.0 - pow(abs(
             |      (8.0 * (9.0 * t::DOUBLE - j::DOUBLE
             |        * (n::DOUBLE - 1.0))) / (9.0 * (n::DOUBLE - 1.0))),
             |      3.0), 3.0), 9)::DECIMAL(20,9) AS w
             |  FROM daily, nn, grid
             |  WHERE abs((8.0 * (9.0 * t::DOUBLE - j::DOUBLE
             |      * (n::DOUBLE - 1.0))) / (9.0 * (n::DOUBLE - 1.0)))
             |    < 1.0)
             |SELECT j, round(sum(w * y)::DOUBLE / sum(w)::DOUBLE, 4)
             |    AS y_hat
             |FROM uw GROUP BY 1 ORDER BY 1""".stripMargin)),

    // Cross-sectional price elasticity: OLS slope of ln(total
    // quantity) on ln(mean unit price) across parts — the classic
    // log-log demand readout (slope ≈ elasticity; negative =
    // downward-sloping demand). Per-part sums are one exact
    // aggregate; the two log covariates are quantized to 9 dp ONCE
    // per part and every OLS moment is an exact DECIMAL sum, so the
    // slope/intercept/R² are partition-order independent. Prices
    // enter as integer cents (×100) before any float op.
    QueryDef("q_price_elasticity",
      (s, d) => {
        val li = graft.sources.Tables.load(s, d, "lineitem")
          .select(col("l_partkey").as("pk"),
            floor(col("l_quantity")).cast("long").as("q"),
            floor(col("l_extendedprice") * 100).cast("long").as("pc"))
        val per = li.groupBy(col("pk"))
          .agg(sum(col("q")).as("tq"), sum(col("pc")).as("tp"))
          .select(
            expr("cast(round(ln(cast(tp as double)" +
              " / cast(tq as double) / 100.0), 9) as decimal(20,9))")
              .as("x"),
            expr("cast(round(ln(cast(tq as double)), 9)" +
              " as decimal(20,9))").as("y"))
        val m = per.agg(count(lit(1)).as("n"), sum(col("x")).as("sx"),
          sum(col("y")).as("sy"), sum(col("x") * col("x")).as("qx"),
          sum(col("y") * col("y")).as("qy"),
          sum(col("x") * col("y")).as("sxy"))
        def dbl(c: String) = col(c).cast("double")
        val n = dbl("n")
        val cxy = dbl("sxy") - dbl("sx") * dbl("sy") / n
        val cxx = dbl("qx") - dbl("sx") * dbl("sx") / n
        val cyy = dbl("qy") - dbl("sy") * dbl("sy") / n
        m.select(col("n").as("n_parts"),
          round(cxy / cxx, 6).as("elasticity"),
          round(dbl("sy") / n - cxy / cxx * dbl("sx") / n, 6)
            .as("intercept"),
          round(cxy * cxy / (cxx * cyy), 6).as("r2"))
      },
      Some("""WITH li AS (SELECT l_partkey AS pk,
             |    floor(l_quantity)::BIGINT AS q,
             |    floor(l_extendedprice * 100)::BIGINT AS pc
             |  FROM lineitem),
             |per AS (SELECT
             |    round(ln(sum(pc)::DOUBLE / sum(q)::DOUBLE / 100.0), 9)
             |      ::DECIMAL(20,9) AS x,
             |    round(ln(sum(q)::DOUBLE), 9)::DECIMAL(20,9) AS y
             |  FROM li GROUP BY pk),
             |m AS (SELECT count(*)::BIGINT AS n, sum(x) AS sx,
             |    sum(y) AS sy, sum(x * x) AS qx, sum(y * y) AS qy,
             |    sum(x * y) AS sxy FROM per),
             |e AS (SELECT n,
             |    sxy::DOUBLE - sx::DOUBLE * sy::DOUBLE / n::DOUBLE
             |      AS cxy,
             |    qx::DOUBLE - sx::DOUBLE * sx::DOUBLE / n::DOUBLE
             |      AS cxx,
             |    qy::DOUBLE - sy::DOUBLE * sy::DOUBLE / n::DOUBLE
             |      AS cyy,
             |    sx::DOUBLE / n::DOUBLE AS mx, sy::DOUBLE / n::DOUBLE
             |      AS my
             |  FROM m)
             |SELECT n AS n_parts, round(cxy / cxx, 6) AS elasticity,
             |  round(my - cxy / cxx * mx, 6) AS intercept,
             |  round(cxy * cxy / (cxx * cyy), 6) AS r2
             |FROM e""".stripMargin)),

    // GEV fit of weekly block maxima by L-moments (Hosking et al.
    // 1985) with 1-year and 10-year return levels — the extreme-value
    // capstone over q_hill_tail (tail index) and q_mean_excess
    // (threshold diagnostic). Probability-weighted moments clear to
    // EXACT integers on the ~53-row block digest (B1 = Σ(i−1)x_(i)
    // and B2 = Σ(i−1)(i−2)x_(i) are tie-permutation invariant), then
    // k/σ/μ are the standard closed forms. Γ(1+k) is a shared
    // Lanczos(g=7) literal expression — the SAME string runs in
    // Spark's expr() and the oracle, so no engine builtin and no
    // cross-engine ulp drift. k ≈ 0 (Gumbel) is NULL-guarded.
    {
      val gam = gammaSql("1.0 + k")
      // all-literal `1.0 - 1.0/520.0` is DECIMAL arithmetic in Spark
      // (truncates to 0.998077!) but double in DuckDB — the cast
      // forces double division in both engines (the q_dickey_fuller
      // decimal-literal divergence class, caught by the gate)
      val rl = (t: Int) =>
        s"mu + sg / nullif(k, 0.0)" +
          s" * (1.0 - pow(-ln(1.0 - 1.0 / cast($t as double)), k))"
      QueryDef("q_gev_return_levels",
        (s, d) => {
        val bm = graft.sources.Tables.events(s, d)
          .groupBy(to_date(col("ts")).as("day"))
          .agg(count(lit(1)).as("y"))
          .groupBy(date_trunc("week", col("day")).as("wk"))
          .agg(max(col("y")).as("x"))
        val os = bm.withColumn("i",
          row_number().over(Window.orderBy(col("x"), col("wk")))
            .cast("long"))
        val pwm = os.agg(count(lit(1)).as("n"), sum(col("x")).as("b0s"),
          sum((col("i") - 1L) * col("x")).as("b1s"),
          sum((col("i") - 1L) * (col("i") - 2L) * col("x")).as("b2s"))
        val lmo = pwm.selectExpr("n",
          "cast(b0s as double) / n as l1",
          "2.0 * b1s / (cast(n as double) * (n - 1))" +
            " - cast(b0s as double) / n as l2",
          "6.0 * b2s / (cast(n as double) * (n - 1) * (n - 2))" +
            " - 6.0 * b1s / (cast(n as double) * (n - 1))" +
            " + cast(b0s as double) / n as l3")
        val kc = lmo.selectExpr("n", "l1", "l2",
          "2.0 / (3.0 + l3 / l2) - 0.6309297535714574 as c")
          .selectExpr("n", "l1", "l2",
            "7.8590 * c + 2.9554 * c * c as k")
        val fit = kc.selectExpr("n", "k",
          s"l2 * k / (nullif(1.0 - pow(2.0, -k), 0.0) * $gam) as sg",
          "l1")
          .selectExpr("n", "k", "sg",
            s"l1 - sg * (1.0 - $gam) / nullif(k, 0.0) as mu")
        fit.selectExpr("n as n_blocks", "round(k, 6) as k_shape",
          "round(sg, 4) as sigma", "round(mu, 4) as mu",
          s"round(${rl(52)}, 4) as rl_1y",
          s"round(${rl(520)}, 4) as rl_10y")
      },
        Some(s"""WITH daily AS (SELECT ts::DATE AS day,
               |    count(*)::BIGINT AS y FROM events GROUP BY 1),
               |bm AS (SELECT date_trunc('week', day) AS wk,
               |    max(y)::BIGINT AS x FROM daily GROUP BY 1),
               |os AS (SELECT x,
               |    row_number() OVER (ORDER BY x, wk) AS i FROM bm),
               |pwm AS (SELECT count(*)::BIGINT AS n,
               |    sum(x)::BIGINT AS b0s,
               |    sum((i - 1) * x)::BIGINT AS b1s,
               |    sum((i - 1) * (i - 2) * x)::BIGINT AS b2s FROM os),
               |lmo AS (SELECT n,
               |    b0s::DOUBLE / n AS l1,
               |    2.0 * b1s / (n::DOUBLE * (n - 1))
               |      - b0s::DOUBLE / n AS l2,
               |    6.0 * b2s / (n::DOUBLE * (n - 1) * (n - 2))
               |      - 6.0 * b1s / (n::DOUBLE * (n - 1))
               |      + b0s::DOUBLE / n AS l3
               |  FROM pwm),
               |kc AS (SELECT n, l1, l2,
               |    7.8590 * c + 2.9554 * c * c AS k FROM (
               |    SELECT n, l1, l2,
               |      2.0 / (3.0 + l3 / l2) - 0.6309297535714574 AS c
               |    FROM lmo)),
               |fit AS (SELECT n, k, sg,
               |    l1 - sg * (1.0 - $gam) / nullif(k, 0.0) AS mu
               |  FROM (SELECT n, k, l1,
               |    l2 * k / (nullif(1.0 - pow(2.0, -k), 0.0) * $gam)
               |      AS sg
               |  FROM kc))
               |SELECT n AS n_blocks, round(k, 6) AS k_shape,
               |  round(sg, 4) AS sigma, round(mu, 4) AS mu,
               |  round(${rl(52)}, 4) AS rl_1y,
               |  round(${rl(520)}, 4) AS rl_10y
               |FROM fit""".stripMargin))
    },

    // Empirical copula tail dependence between the daily view and
    // click channels: λ_U(q) = P(U > q, V > q)/(1 − q) and its lower
    // mirror at q ∈ {0.8, 0.9} — dependence structure beyond
    // correlation (two channels can be ρ-correlated yet never spike
    // TOGETHER; tail λ is what an alerting pipeline actually needs).
    // Ranks are exact midranks on the calendar digest; the q-cuts are
    // integer cross-multiplications (5·2R > 8·2n etc.), so every
    // count is exact and the four λ's are final-projection ratios.
    QueryDef("q_tail_dependence",
      (s, d) => {
        val daily = graft.sources.Tables.events(s, d)
          .groupBy(to_date(col("ts")).as("day"))
          .agg(sum(when(col("event_type") === "view", 1L).otherwise(0L))
              .as("xv"),
            sum(when(col("event_type") === "click", 1L).otherwise(0L))
              .as("yv"))
        def mr(c: String) = {
          val w = Window.orderBy(col(c))
          val wt = Window.partitionBy(col(c))
          (lit(2L) * rank().over(w) + count(lit(1)).over(wt) - 1L)
        }
        val ranked = daily
          .withColumn("ru", mr("xv")).withColumn("rv", mr("yv"))
        val n = broadcast(daily.agg(count(lit(1)).as("n")))
        val j = ranked.crossJoin(n)
        val qs = Seq((80L, 4L, 5L), (90L, 9L, 10L))
        val rows = qs.map { case (pct, num, den) =>
          // upper: R/n > q  ⇔  den·2R > 2·num·n ; lower: R/n ≤ 1−q
          val up = (c: String) =>
            col(c) * den > lit(2L) * num * col("n")
          val lo = (c: String) =>
            col(c) * den <= lit(2L) * (den - num) * col("n")
          j.agg(
            sum(when(up("ru") && up("rv"), 1L).otherwise(0L)).as("ju"),
            sum(when(lo("ru") && lo("rv"), 1L).otherwise(0L)).as("jl"),
            max(col("n")).as("nn"))
            .select(lit(pct).as("pct"), col("ju").as("joint_upper"),
              col("jl").as("joint_lower"),
              round(col("ju").cast("double") * den /
                col("nn").cast("double"), 6).as("lambda_u"),
              round(col("jl").cast("double") * den /
                col("nn").cast("double"), 6).as("lambda_l"))
        }
        rows.reduce(_ unionAll _).orderBy(col("pct"))
      },
      Some("""WITH daily AS (SELECT ts::DATE AS day,
             |    sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END)
             |      ::BIGINT AS xv,
             |    sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
             |      ::BIGINT AS yv
             |  FROM events GROUP BY 1),
             |ranked AS (SELECT
             |    2 * rank() OVER (ORDER BY xv)
             |      + count(*) OVER (PARTITION BY xv) - 1 AS ru,
             |    2 * rank() OVER (ORDER BY yv)
             |      + count(*) OVER (PARTITION BY yv) - 1 AS rv
             |  FROM daily),
             |nn AS (SELECT count(*)::BIGINT AS n FROM daily),
             |qq AS (SELECT * FROM (VALUES (80, 4, 5), (90, 9, 10))
             |  AS q(pct, num, den)),
             |agg AS (SELECT pct, den,
             |    sum(CASE WHEN ru * den > 2 * num * n
             |      AND rv * den > 2 * num * n THEN 1 ELSE 0 END)
             |      ::BIGINT AS ju,
             |    sum(CASE WHEN ru * den <= 2 * (den - num) * n
             |      AND rv * den <= 2 * (den - num) * n THEN 1 ELSE 0
             |      END)::BIGINT AS jl,
             |    max(n)::BIGINT AS nn
             |  FROM ranked, nn, qq GROUP BY 1, 2)
             |SELECT pct::BIGINT AS pct, ju AS joint_upper,
             |  jl AS joint_lower,
             |  round(ju::DOUBLE * den / nn::DOUBLE, 6) AS lambda_u,
             |  round(jl::DOUBLE * den / nn::DOUBLE, 6) AS lambda_l
             |FROM agg ORDER BY 1""".stripMargin)),

    // Seasonal Mann-Kendall trend test (Hirsch & Slack 1984) with
    // day-of-week seasons: the within-season pairwise S statistics
    // and tie-corrected variances are summed ACROSS seasons, so the
    // weekly rhythm can't masquerade as (or mask) a monotone trend —
    // the environmental-statistics upgrade of q_mann_kendall. Every
    // S_s is an EXACT integer from a within-season digest self-join
    // (≤ (n/7)² pairs per season, calendar-bounded); the variance's
    // tie term comes off the (season, value) cell digest. Continuity-
    // corrected Z in the final projection only.
    QueryDef("q_seasonal_mann_kendall",
      (s, d) => {
        val daily = graft.sources.Tables.events(s, d)
          .groupBy(to_date(col("ts")).as("day"))
          .agg(count(lit(1)).as("y"))
          .select(dayofweek(col("day")).as("sn"), col("day"), col("y"))
        val pairs = daily.select(col("sn"), col("day").as("d1"),
            col("y").as("y1"))
          .join(daily.select(col("sn").as("sn2"), col("day").as("d2"),
            col("y").as("y2")),
            col("sn") === col("sn2") && col("d1") < col("d2"))
          .agg(sum(signum((col("y2") - col("y1")).cast("double"))
            .cast("long")).as("s_total"))
        val perSeason = daily.groupBy(col("sn"))
          .agg(count(lit(1)).as("ns"))
          .agg(sum(col("ns") * (col("ns") - 1) *
            (lit(2L) * col("ns") + 5L)).as("v18"))
        val ties = daily.groupBy(col("sn"), col("y"))
          .agg(count(lit(1)).as("t"))
          .agg(coalesce(sum(when(col("t") > 1,
            col("t") * (col("t") - 1) * (lit(2L) * col("t") + 5L))),
            lit(0L)).as("t18"))
        def dbl(c: String) = col(c).cast("double")
        pairs.crossJoin(broadcast(perSeason))
          .crossJoin(broadcast(ties))
          .select(col("s_total"),
            round((dbl("v18") - dbl("t18")) / 18.0, 4).as("var_s"),
            round((dbl("s_total") - signum(dbl("s_total"))) /
              sqrt((dbl("v18") - dbl("t18")) / 18.0), 4).as("z"))
          .withColumn("trend",
            when(col("z") > 1.96, "increasing")
              .when(col("z") < -1.96, "decreasing")
              .otherwise("none"))
      },
      Some("""WITH daily AS (SELECT dayofweek(day) + 1 AS sn, day, y
             |  FROM (SELECT ts::DATE AS day, count(*)::BIGINT AS y
             |    FROM events GROUP BY 1)),
             |pairs AS (SELECT sum(sign((b.y - a.y)::DOUBLE))::BIGINT
             |    AS s_total
             |  FROM daily a JOIN daily b
             |    ON a.sn = b.sn AND a.day < b.day),
             |ps AS (SELECT sum(ns * (ns - 1) * (2 * ns + 5))::BIGINT
             |    AS v18 FROM (
             |    SELECT count(*)::BIGINT AS ns FROM daily GROUP BY sn)),
             |ties AS (SELECT coalesce(sum(CASE WHEN t > 1
             |      THEN t * (t - 1) * (2 * t + 5) END), 0)::BIGINT
             |    AS t18 FROM (
             |    SELECT count(*)::BIGINT AS t FROM daily
             |    GROUP BY sn, y)),
             |e AS (SELECT s_total,
             |    round((v18::DOUBLE - t18::DOUBLE) / 18.0, 4) AS var_s,
             |    round((s_total::DOUBLE - sign(s_total::DOUBLE))
             |      / sqrt((v18::DOUBLE - t18::DOUBLE) / 18.0), 4) AS z
             |  FROM pairs, ps, ties)
             |SELECT s_total, var_s, z,
             |  CASE WHEN z > 1.96 THEN 'increasing'
             |    WHEN z < -1.96 THEN 'decreasing'
             |    ELSE 'none' END AS trend
             |FROM e""".stripMargin)),

    // Two-sample Poisson rate-ratio test on purchase intensity,
    // first calendar half vs second: conditional on the total,
    // X₁ ~ Binomial(x₁+x₂, d₁/(d₁+d₂)) under H₀ (equal rates), so
    // the test needs only FOUR integers — purchases and exposure
    // days per half — and a continuity-corrected binomial z. The
    // epidemiology/SRE "did the incident rate change?" primitive
    // that q_ab_srm_check applies to traffic splits, applied to time.
    QueryDef("q_rate_ratio_test",
      (s, d) => {
        val daily = graft.sources.Tables.events(s, d)
          .groupBy(to_date(col("ts")).as("day"))
          .agg(sum(when(col("event_type") === "purchase", 1L)
            .otherwise(0L)).as("x"))
          .withColumn("t",
            row_number().over(Window.orderBy(col("day"))).cast("long"))
        val n = broadcast(daily.agg(count(lit(1)).as("nn")))
        val g = daily.crossJoin(n).agg(
          sum(when(col("t") * 2 <= col("nn"), col("x")).otherwise(0L))
            .as("x1"),
          sum(when(col("t") * 2 > col("nn"), col("x")).otherwise(0L))
            .as("x2"),
          sum(when(col("t") * 2 <= col("nn"), 1L).otherwise(0L))
            .as("d1"),
          sum(when(col("t") * 2 > col("nn"), 1L).otherwise(0L))
            .as("d2"))
        def dbl(c: String) = col(c).cast("double")
        val p0 = dbl("d1") / (dbl("d1") + dbl("d2"))
        val nT = dbl("x1") + dbl("x2")
        val z = (dbl("x1") - nT * p0 -
          signum(dbl("x1") - nT * p0) * 0.5) /
          sqrt(nT * p0 * (lit(1.0) - p0))
        g.select(col("x1"), col("x2"), col("d1"), col("d2"),
          round((dbl("x1") / dbl("d1")) / (dbl("x2") / dbl("d2")), 6)
            .as("rate_ratio"),
          round(z, 4).as("z"))
      },
      Some("""WITH daily AS (SELECT day, x,
             |    row_number() OVER (ORDER BY day) AS t FROM (
             |    SELECT ts::DATE AS day,
             |      sum(CASE WHEN event_type = 'purchase' THEN 1
             |        ELSE 0 END)::BIGINT AS x
             |    FROM events GROUP BY 1)),
             |nn AS (SELECT count(*)::BIGINT AS nn FROM daily),
             |g AS (SELECT
             |    sum(CASE WHEN t * 2 <= nn THEN x ELSE 0 END)::BIGINT
             |      AS x1,
             |    sum(CASE WHEN t * 2 > nn THEN x ELSE 0 END)::BIGINT
             |      AS x2,
             |    sum(CASE WHEN t * 2 <= nn THEN 1 ELSE 0 END)::BIGINT
             |      AS d1,
             |    sum(CASE WHEN t * 2 > nn THEN 1 ELSE 0 END)::BIGINT
             |      AS d2
             |  FROM daily, nn),
             |e AS (SELECT x1, x2, d1, d2,
             |    d1::DOUBLE / (d1::DOUBLE + d2::DOUBLE) AS p0,
             |    x1::DOUBLE + x2::DOUBLE AS nt FROM g)
             |SELECT x1, x2, d1, d2,
             |  round((x1::DOUBLE / d1::DOUBLE)
             |    / (x2::DOUBLE / d2::DOUBLE), 6) AS rate_ratio,
             |  round((x1::DOUBLE - nt * p0
             |      - sign(x1::DOUBLE - nt * p0) * 0.5)
             |    / sqrt(nt * p0 * (1.0 - p0)), 4) AS z
             |FROM e""".stripMargin)),

    // SAX symbolization (Lin et al. 2003): the daily series reduced
    // to 8 PAA segments, z-normalized with the exact global moments,
    // and mapped to a 4-letter alphabet at the standard Gaussian
    // breakpoints ±0.6745/0 — the discretization that makes motif
    // mining, hashing and DTW lower-bounding cheap. Segment sums are
    // exact integers (segment id = 8t div n); only the final
    // normalize-and-bucket touches doubles. The 8-row digest IS the
    // output — at any scale the only data-sized pass is the daily
    // aggregate.
    QueryDef("q_sax_paa8",
      (s, d) => {
        val daily = graft.sources.Tables.events(s, d)
          .groupBy(to_date(col("ts")).as("day"))
          .agg(count(lit(1)).as("y"))
          .withColumn("t",
            (row_number().over(Window.orderBy(col("day"))) - 1)
              .cast("long"))
        val tot = broadcast(daily.agg(count(lit(1)).as("n"),
          sum(col("y")).as("sy"),
          sum(col("y") * col("y")).as("qy")))
        val seg = daily.crossJoin(tot)
          .groupBy(expr("t * 8 div n").as("segment"))
          .agg(sum(col("y")).as("ss"), count(lit(1)).as("c"),
            max(col("n")).as("n"), max(col("sy")).as("sy"),
            max(col("qy")).as("qy"))
        def dbl(c: String) = col(c).cast("double")
        val mean = dbl("sy") / dbl("n")
        val sd = sqrt(dbl("qy") / dbl("n") - mean * mean)
        val zc = (dbl("ss") / dbl("c") - mean) / sd
        seg.select(col("segment"), round(dbl("ss") / dbl("c"), 4)
            .as("paa"),
            round(zc, 4).as("z"),
            when(zc < -0.6745, "a").when(zc < 0.0, "b")
              .when(zc < 0.6745, "c").otherwise("d").as("symbol"))
          .orderBy(col("segment"))
      },
      Some("""WITH daily AS (SELECT row_number() OVER (ORDER BY day) - 1
             |      AS t, y FROM (
             |    SELECT ts::DATE AS day, count(*)::BIGINT AS y
             |    FROM events GROUP BY 1)),
             |tot AS (SELECT count(*)::BIGINT AS n, sum(y)::BIGINT AS sy,
             |    sum(y * y)::BIGINT AS qy FROM daily),
             |seg AS (SELECT t * 8 // n AS segment, sum(y)::BIGINT AS ss,
             |    count(*)::BIGINT AS c, max(n)::BIGINT AS n,
             |    max(sy)::BIGINT AS sy, max(qy)::BIGINT AS qy
             |  FROM daily, tot GROUP BY 1),
             |e AS (SELECT segment, ss, c,
             |    sy::DOUBLE / n::DOUBLE AS m,
             |    sqrt(qy::DOUBLE / n::DOUBLE - (sy::DOUBLE / n::DOUBLE)
             |      * (sy::DOUBLE / n::DOUBLE)) AS sd
             |  FROM seg)
             |SELECT segment, round(ss::DOUBLE / c::DOUBLE, 4) AS paa,
             |  round((ss::DOUBLE / c::DOUBLE - m) / sd, 4) AS z,
             |  CASE WHEN (ss::DOUBLE / c::DOUBLE - m) / sd < -0.6745
             |      THEN 'a'
             |    WHEN (ss::DOUBLE / c::DOUBLE - m) / sd < 0.0 THEN 'b'
             |    WHEN (ss::DOUBLE / c::DOUBLE - m) / sd < 0.6745
             |      THEN 'c'
             |    ELSE 'd' END AS symbol
             |FROM e ORDER BY segment""".stripMargin)),

    // Two-component 1-D Gaussian mixture fit by 3 synchronous EM
    // rounds (Dempster et al. 1977) on the value-CELL digest — the
    // iterative-ML capstone next to q_kalman_level and
    // q_isotonic_calibration. Determinism contract: responsibilities
    // are rounded ONCE to 9 dp per cell (the transcendental quantize
    // rule), the three weighted sums are exact DECIMAL reductions,
    // and component 2's sums are exact COMPLEMENTS (N−w₁, Sv−w₁v,
    // Svv−w₁vv) so no second resp column exists to drift. Each
    // round's parameters are derived from those sums by identical
    // double expressions on both engines; the oracle replays all 3
    // rounds in chained MATERIALIZED CTEs. Init: μ = exact quartiles,
    // σ² = global variance, π = ½. 100 TB: ONE fact-sized groupBy;
    // the EM itself rides the ≤|value-domain| digest (3 tiny jobs).
    QueryDef("q_gmm_em",
      (s, d) => {
        import org.apache.spark.sql.Row
        val cell = graft.sources.Tables.events(s, d)
          .select(floor(col("value") * 1000).cast("long").as("v"))
          .groupBy(col("v")).agg(count(lit(1)).as("c"))
          .persist()
        val Row(nL: Long, svL: Long, qvL: Long) = cell.agg(
          sum(col("c")), sum(col("c") * col("v")),
          sum(col("c") * col("v") * col("v"))).head()
        val cum = cell.withColumn("cumc",
          sum(col("c")).over(Window.orderBy(col("v"))
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        val q1 = cum.filter(col("cumc") * 4 >= nL)
          .agg(min(col("v"))).head().getLong(0)
        val q3 = cum.filter(col("cumc") * 4 >= 3L * nL)
          .agg(min(col("v"))).head().getLong(0)
        // mirror the oracle's double expressions EXACTLY — every
        // Scala arithmetic line below has the same shape as the CTE
        val n = nL.toDouble
        val s0 = qvL.toDouble / n - (svL.toDouble / n) * (svL.toDouble / n)
        var pi = 0.5
        var mu1 = q1.toDouble
        var s1 = s0
        var mu2 = q3.toDouble
        var s2 = s0
        def lit_(x: Double) = s"cast('${x.toString}' as double)"
        for (_ <- 1 to 3) {
          val phi1 = s"exp(-(v - ${lit_(mu1)}) * (v - ${lit_(mu1)})" +
            s" / (2.0 * ${lit_(s1)})) / sqrt(${lit_(s1)})"
          val phi2 = s"exp(-(v - ${lit_(mu2)}) * (v - ${lit_(mu2)})" +
            s" / (2.0 * ${lit_(s2)})) / sqrt(${lit_(s2)})"
          val r1 = s"round(${lit_(pi)} * $phi1 / (${lit_(pi)} * $phi1" +
            s" + (1.0 - ${lit_(pi)}) * $phi2), 9)"
          val Row(w1: java.math.BigDecimal, w1v: java.math.BigDecimal,
              w1vv: java.math.BigDecimal) =
            cell.selectExpr("c", "v",
                s"cast($r1 as decimal(11,9)) as r1")
              .agg(sum(expr("c * r1")), sum(expr("c * r1 * v")),
                sum(expr("c * r1 * v * v"))).head()
          val (dw1, dw1v, dw1vv) =
            (w1.doubleValue, w1v.doubleValue, w1vv.doubleValue)
          // complements are exact decimals; their doubles below match
          // the oracle's (n - w1)::DOUBLE etc. because the decimal
          // subtraction is exact and the conversion correctly rounded
          val dw2 = new java.math.BigDecimal(nL).subtract(w1).doubleValue
          val dw2v = new java.math.BigDecimal(svL).subtract(w1v)
            .doubleValue
          val dw2vv = new java.math.BigDecimal(qvL).subtract(w1vv)
            .doubleValue
          pi = dw1 / n
          mu1 = dw1v / dw1
          s1 = dw1vv / dw1 - mu1 * mu1
          mu2 = dw2v / dw2
          s2 = dw2vv / dw2 - mu2 * mu2
        }
        cell.unpersist()
        import s.implicits._
        Seq((nL, BigDecimal(pi).setScale(6, BigDecimal.RoundingMode.HALF_UP)
            .toDouble,
          BigDecimal(mu1).setScale(4, BigDecimal.RoundingMode.HALF_UP)
            .toDouble,
          BigDecimal(math.sqrt(s1)).setScale(4,
            BigDecimal.RoundingMode.HALF_UP).toDouble,
          BigDecimal(mu2).setScale(4, BigDecimal.RoundingMode.HALF_UP)
            .toDouble,
          BigDecimal(math.sqrt(s2)).setScale(4,
            BigDecimal.RoundingMode.HALF_UP).toDouble))
          .toDF("n", "pi1", "mu1", "sigma1", "mu2", "sigma2")
      }, {
        def round(r: Int, prev: String) =
          s"""resp$r AS MATERIALIZED (SELECT c, v,
             |    round(pi * p1 / (pi * p1 + (1.0 - pi) * p2), 9)
             |      ::DECIMAL(11,9) AS r1 FROM (
             |    SELECT c, v, pi,
             |      exp(-(v - mu1) * (v - mu1) / (2.0 * s1)) / sqrt(s1)
             |        AS p1,
             |      exp(-(v - mu2) * (v - mu2) / (2.0 * s2)) / sqrt(s2)
             |        AS p2
             |    FROM cell, $prev)),
             |w$r AS (SELECT sum(c * r1) AS w1, sum(c * r1 * v) AS w1v,
             |    sum(c * r1 * v * v) AS w1vv FROM resp$r),
             |param$r AS (SELECT
             |    w1::DOUBLE / n::DOUBLE AS pi,
             |    w1v::DOUBLE / w1::DOUBLE AS mu1,
             |    w1vv::DOUBLE / w1::DOUBLE
             |      - (w1v::DOUBLE / w1::DOUBLE)
             |      * (w1v::DOUBLE / w1::DOUBLE) AS s1,
             |    (sv - w1v)::DOUBLE / (n - w1)::DOUBLE AS mu2,
             |    (qv - w1vv)::DOUBLE / (n - w1)::DOUBLE
             |      - ((sv - w1v)::DOUBLE / (n - w1)::DOUBLE)
             |      * ((sv - w1v)::DOUBLE / (n - w1)::DOUBLE) AS s2
             |  FROM w$r, tot)""".stripMargin
        Some(s"""WITH cell AS MATERIALIZED (SELECT
               |    floor(value * 1000)::BIGINT AS v,
               |    count(*)::BIGINT AS c FROM events GROUP BY 1),
               |tot AS (SELECT sum(c)::BIGINT AS n, sum(c * v)::BIGINT
               |    AS sv, sum(c * v * v)::BIGINT AS qv FROM cell),
               |cum AS (SELECT v, sum(c) OVER (ORDER BY v
               |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               |    AS cumc FROM cell),
               |qq AS (SELECT
               |    (SELECT min(v) FROM cum, tot WHERE cumc * 4 >= n)
               |      AS q1,
               |    (SELECT min(v) FROM cum, tot WHERE cumc * 4 >= 3 * n)
               |      AS q3),
               |param0 AS (SELECT 0.5::DOUBLE AS pi, q1::DOUBLE AS mu1,
               |    qv::DOUBLE / n::DOUBLE - (sv::DOUBLE / n::DOUBLE)
               |      * (sv::DOUBLE / n::DOUBLE) AS s1,
               |    q3::DOUBLE AS mu2,
               |    qv::DOUBLE / n::DOUBLE - (sv::DOUBLE / n::DOUBLE)
               |      * (sv::DOUBLE / n::DOUBLE) AS s2
               |  FROM qq, tot),
               |${round(1, "param0")},
               |${round(2, "param1")},
               |${round(3, "param2")}
               |SELECT n, round(pi, 6) AS pi1, round(mu1, 4) AS mu1,
               |  round(sqrt(s1), 4) AS sigma1, round(mu2, 4) AS mu2,
               |  round(sqrt(s2), 4) AS sigma2
               |FROM param3, tot""".stripMargin)
      }),

    // Restricted mean survival time at τ = 14 days (Royston & Parmar
    // 2013) over the q_kaplan_meier conversion-as-death framing —
    // the clinically robust "average conversion-free days in the
    // first two weeks" summary that stays defined when the median is
    // never reached. The KM curve re-derives on the lifetime digest
    // (ln-sum ordered window, the q_nelson_aalen discipline); the
    // area segments are quantized once to 9 dp before the cross-row
    // sum so the integral is partition-order independent.
    QueryDef("q_rmst",
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
        val km = byT
          .withColumn("n_risk", sum(col("nd") + col("nc")).over(wDesc))
          .withColumn("ln_term",
            log((col("n_risk") - col("nd")).cast("double") /
              col("n_risk").cast("double")))
          .withColumn("surv", exp(sum(col("ln_term")).over(wAsc)))
          .filter(col("nd") > 0)
          .select(col("lifetime").as("t"), col("surv"))
        val w = Window.orderBy(col("t"))
        val seg = km
          .withColumn("pt", coalesce(lag(col("t"), 1).over(w), lit(0L)))
          .withColumn("ps",
            coalesce(lag(col("surv"), 1).over(w), lit(1.0)))
          .select(col("t"), col("surv"),
            round((least(col("t"), lit(14L)) -
              least(col("pt"), lit(14L))).cast("double") * col("ps"), 9)
              .cast("decimal(20,9)").as("seg"))
        seg.agg(sum(col("seg")).as("head"),
            max_by(col("surv"), col("t")).as("slast"),
            max(col("t")).as("tmax"),
            coalesce(max_by(when(col("t") <= 14, col("surv")),
              when(col("t") <= 14, col("t"))), lit(1.0)).as("s14"))
          .select(lit(14L).as("tau"),
            round(col("head").cast("double") +
              (lit(14.0) - least(col("tmax"), lit(14L)).cast("double")) *
                col("slast"), 4).as("rmst"),
            round(col("s14"), 6).as("surv_tau"))
      },
      Some("""WITH per_user AS (SELECT user_id,
             |    min(ts::DATE) AS first_d FROM events GROUP BY 1),
             |conv AS (SELECT user_id AS cu, min(ts::DATE) AS conv_d
             |  FROM events WHERE event_type = 'purchase'
             |    AND value >= 90 GROUP BY 1),
             |horizon AS (SELECT max(ts::DATE) AS max_d FROM events),
             |byt AS (SELECT datediff('day', first_d,
             |      coalesce(conv_d, max_d)) AS lifetime,
             |    sum(CASE WHEN conv_d IS NOT NULL THEN 1 ELSE 0 END)
             |      ::BIGINT AS nd,
             |    sum(CASE WHEN conv_d IS NULL THEN 1 ELSE 0 END)
             |      ::BIGINT AS nc
             |  FROM per_user LEFT JOIN conv ON user_id = cu, horizon
             |  GROUP BY 1),
             |km0 AS (SELECT lifetime, nd,
             |    sum(nd + nc) OVER (ORDER BY lifetime DESC
             |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
             |      AS n_risk FROM byt),
             |km1 AS (SELECT lifetime, nd,
             |    exp(sum(ln((n_risk - nd)::DOUBLE / n_risk::DOUBLE))
             |      OVER (ORDER BY lifetime
             |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
             |      AS surv
             |  FROM km0),
             |km AS (SELECT lifetime AS t, surv FROM km1 WHERE nd > 0),
             |seg AS (SELECT t, surv,
             |    round((least(t, 14) - least(coalesce(lag(t, 1)
             |        OVER (ORDER BY t), 0), 14))::DOUBLE
             |      * coalesce(lag(surv, 1) OVER (ORDER BY t), 1.0), 9)
             |      ::DECIMAL(20,9) AS seg
             |  FROM km),
             |agg AS (SELECT sum(seg) AS head,
             |    max_by(surv, t) AS slast, max(t) AS tmax,
             |    coalesce(max_by(CASE WHEN t <= 14 THEN surv END,
             |      CASE WHEN t <= 14 THEN t END), 1.0) AS s14
             |  FROM seg)
             |SELECT 14::BIGINT AS tau,
             |  round(head::DOUBLE + (14.0 - least(tmax, 14)::DOUBLE)
             |    * slast, 4) AS rmst,
             |  round(s14, 6) AS surv_tau
             |FROM agg""".stripMargin)),

    // Circular statistics of the event clock (Mardia & Jupp 2000):
    // the hour-of-day treated as a direction on the 24-hour circle —
    // mean direction (peak hour), resultant length R̄ (concentration),
    // circular variance, and the Rayleigh test of uniformity
    // (z = nR̄², the "is there a daily rhythm at all?" gate). The 24
    // cos/sin cell terms are quantized once to 9 dp, so C and S are
    // exact DECIMAL sums; atan2 and the Rayleigh p appear only in the
    // one-row projection.
    QueryDef("q_circular_stats",
      (s, d) => {
        val cellAgg = graft.sources.Tables.events(s, d)
          .groupBy(hour(col("ts")).cast("long").as("h"))
          .agg(count(lit(1)).as("c"))
        val terms = cellAgg.select(col("c"),
          expr("""cast(round(cast(c as double) * cos(
            |  2.0 * 3.141592653589793 * cast(h as double) / 24.0),
            |  9) as decimal(38,9))""".stripMargin).as("tc"),
          expr("""cast(round(cast(c as double) * sin(
            |  2.0 * 3.141592653589793 * cast(h as double) / 24.0),
            |  9) as decimal(38,9))""".stripMargin).as("ts"))
        val g = terms.agg(sum(col("c")).as("n"), sum(col("tc")).as("cc"),
          sum(col("ts")).as("ss"))
        def dbl(c: String) = col(c).cast("double")
        val r = sqrt(dbl("cc") * dbl("cc") + dbl("ss") * dbl("ss")) /
          dbl("n")
        val theta = atan2(dbl("ss"), dbl("cc"))
        val z = dbl("n") * r * r
        g.select(col("n"),
          round(pmod(theta / (2.0 * math.Pi) * 24.0, lit(24.0)), 4)
            .as("mean_hour"),
          round(r, 6).as("resultant_r"),
          round(lit(1.0) - r, 6).as("circ_variance"),
          round(z, 4).as("rayleigh_z"),
          round(exp(-z) * (lit(1.0) +
            (lit(2.0) * z - z * z) / (lit(4.0) * dbl("n"))), 6)
            .as("rayleigh_p"))
      },
      Some("""WITH cell AS (SELECT hour(ts)::BIGINT AS h,
             |    count(*)::BIGINT AS c FROM events GROUP BY 1),
             |terms AS (SELECT c,
             |    round(c::DOUBLE * cos(2.0 * 3.141592653589793
             |      * h::DOUBLE / 24.0), 9)::DECIMAL(38,9) AS tc,
             |    round(c::DOUBLE * sin(2.0 * 3.141592653589793
             |      * h::DOUBLE / 24.0), 9)::DECIMAL(38,9) AS ts
             |  FROM cell),
             |g AS (SELECT sum(c)::BIGINT AS n, sum(tc) AS cc,
             |    sum(ts) AS ss FROM terms),
             |e AS (SELECT n,
             |    sqrt(cc::DOUBLE * cc::DOUBLE + ss::DOUBLE * ss::DOUBLE)
             |      / n::DOUBLE AS r,
             |    atan2(ss::DOUBLE, cc::DOUBLE) AS theta
             |  FROM g)
             |SELECT n,
             |  round(fmod(fmod(theta / (2.0 * 3.141592653589793) * 24.0,
             |    24.0) + 24.0, 24.0), 4) AS mean_hour,
             |  round(r, 6) AS resultant_r,
             |  round(1.0 - r, 6) AS circ_variance,
             |  round(n::DOUBLE * r * r, 4) AS rayleigh_z,
             |  round(exp(-(n::DOUBLE * r * r)) * (1.0
             |    + (2.0 * n::DOUBLE * r * r
             |      - n::DOUBLE * r * r * (n::DOUBLE * r * r))
             |      / (4.0 * n::DOUBLE)), 6) AS rayleigh_p
             |FROM e""".stripMargin)),

    // Generalized Pareto fit of the exceedances over the exact 90th
    // percentile by method of moments (Hosking & Wallis 1987):
    // ξ = (1 − m²/s²)/2, σ = m(1 − ξ) — the peaks-over-threshold
    // counterpart of q_gev_return_levels, closing the EVT triad with
    // q_mean_excess. Exceedance moments are exact integers off the
    // value-cell digest; the p = 0.999 return quantile
    // u + σ/ξ((ζ_u/(1−p))^ξ − 1) is a one-row projection (ξ → 0
    // NULL-guarded on both engines).
    QueryDef("q_gpd_pot",
      (s, d) => {
        val cell = graft.sources.Tables.events(s, d)
          .select(floor(col("value") * 1000).cast("long").as("vm"))
          .groupBy(col("vm")).agg(count(lit(1)).as("t"))
        val cum = cell.withColumn("cumt",
          sum(col("t")).over(Window.orderBy(col("vm"))
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        val tot = broadcast(cell.agg(sum(col("t")).as("n")))
        val u = cum.crossJoin(tot)
          .filter(col("cumt") * 10 >= col("n") * 9)
          .agg(min(col("vm")).as("u"))
        val ex = cell.crossJoin(broadcast(u)).crossJoin(tot)
          .filter(col("vm") > col("u"))
          .agg(max(col("u")).as("u"), max(col("n")).as("n"),
            sum(col("t")).as("ne"),
            sum((col("vm") - col("u")) * col("t")).as("sy"),
            sum((col("vm") - col("u")) * (col("vm") - col("u")) *
              col("t")).as("qy"))
        def dbl(c: String) = col(c).cast("double")
        val m = dbl("sy") / dbl("ne")
        val s2 = (dbl("qy") - dbl("sy") * dbl("sy") / dbl("ne")) /
          (dbl("ne") - 1.0)
        val xi = (lit(1.0) - m * m / s2) / 2.0
        val sg = m * (lit(1.0) - xi)
        val zeta = dbl("ne") / dbl("n")
        ex.select(col("u").as("threshold"), col("ne").as("n_exceed"),
          round(xi, 6).as("xi"), round(sg, 4).as("sigma"),
          round(col("u") + sg / nullif(xi, lit(0.0)) *
            (pow(zeta / 0.001, xi) - 1.0), 4).as("q999"))
      },
      Some("""WITH cell AS (SELECT floor(value * 1000)::BIGINT AS vm,
             |    count(*)::BIGINT AS t FROM events GROUP BY 1),
             |cum AS (SELECT vm, t, sum(t) OVER (ORDER BY vm
             |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
             |    AS cumt FROM cell),
             |tot AS (SELECT sum(t)::BIGINT AS n FROM cell),
             |uu AS (SELECT min(vm)::BIGINT AS u FROM cum, tot
             |  WHERE cumt * 10 >= n * 9),
             |ex AS (SELECT max(u)::BIGINT AS u, max(n)::BIGINT AS n,
             |    sum(t)::BIGINT AS ne,
             |    sum((vm - u) * t)::BIGINT AS sy,
             |    sum((vm - u) * (vm - u) * t)::BIGINT AS qy
             |  FROM cell, uu, tot WHERE vm > u),
             |e AS (SELECT u, n, ne,
             |    sy::DOUBLE / ne::DOUBLE AS m,
             |    (qy::DOUBLE - sy::DOUBLE * sy::DOUBLE / ne::DOUBLE)
             |      / (ne::DOUBLE - 1.0) AS s2
             |  FROM ex)
             |SELECT u AS threshold, ne AS n_exceed,
             |  round((1.0 - m * m / s2) / 2.0, 6) AS xi,
             |  round(m * (1.0 - (1.0 - m * m / s2) / 2.0), 4) AS sigma,
             |  round(u + m * (1.0 - (1.0 - m * m / s2) / 2.0)
             |    / nullif((1.0 - m * m / s2) / 2.0, 0.0)
             |    * (pow((ne::DOUBLE / n::DOUBLE) / 0.001,
             |      (1.0 - m * m / s2) / 2.0) - 1.0), 4) AS q999
             |FROM e""".stripMargin)),

    // Hawkes self-excitation (branching ratio) moment estimate: for
    // a cluster point process, hourly counts obey
    // Var/Mean = 1/(1−η)², so η̂ = 1 − √(mean/var) — the one-number
    // "how much of the traffic is events triggering events?"
    // diagnostic (η = 0 ⟹ pure Poisson). The hour spine is implicit
    // (W = span hours from min/max; empty hours are exact zeros in
    // the moments without materializing), so the plan is one
    // fact-sized aggregate at any scale.
    QueryDef("q_hawkes_branching",
      (s, d) => {
        val hc = graft.sources.Tables.events(s, d)
          .groupBy(expr("unix_micros(ts) div 3600000000").as("hb"))
          .agg(count(lit(1)).as("c"))
        val g = hc.agg(sum(col("c")).as("nn"),
          sum(col("c") * col("c")).as("qc"),
          (max(col("hb")) - min(col("hb")) + 1L).as("w"))
        def dbl(c: String) = col(c).cast("double")
        val m = dbl("nn") / dbl("w")
        val v = (dbl("qc") - dbl("nn") * dbl("nn") / dbl("w")) /
          (dbl("w") - 1.0)
        // ANSI double ÷ 0 guard: a constant-rate (zero-variance)
        // series yields NULL η on both engines
        g.select(col("w").as("n_hours"), round(m, 4).as("mean_rate"),
          round(v, 4).as("var_rate"),
          round(v / m, 6).as("fano"),
          round(greatest(lit(1.0) - sqrt(m / nullif(v, lit(0.0))),
            lit(0.0)), 6).as("eta_branching"))
      },
      Some("""WITH hc AS (SELECT epoch_us(ts) // 3600000000 AS hb,
             |    count(*)::BIGINT AS c FROM events GROUP BY 1),
             |g AS (SELECT sum(c)::BIGINT AS nn,
             |    sum(c * c)::BIGINT AS qc,
             |    (max(hb) - min(hb) + 1)::BIGINT AS w FROM hc),
             |e AS (SELECT w, nn::DOUBLE / w::DOUBLE AS m,
             |    (qc::DOUBLE - nn::DOUBLE * nn::DOUBLE / w::DOUBLE)
             |      / (w::DOUBLE - 1.0) AS v
             |  FROM g)
             |SELECT w AS n_hours, round(m, 4) AS mean_rate,
             |  round(v, 4) AS var_rate, round(v / m, 6) AS fano,
             |  round(greatest(1.0 - sqrt(m / nullif(v, 0.0)), 0.0), 6)
             |    AS eta_branching
             |FROM e""".stripMargin)),

    // Coarsened exact matching ATT (Iacus, King & Porro 2012):
    // treatment = an above-average error count (the exact integer
    // cross-multiplication n_err·N > Σerr — every user sees ≥1 error
    // in this corpus, so the ≥1 framing would leave no controls),
    // outcome = purchase count, confounder = total activity coarsened
    // to exact quartile strata.
    // ATT = Σ_s (n₁s/N₁)(ȳ₁s − ȳ₀s) over strata where BOTH groups
    // appear — the matching estimator that needs no model and no
    // distance metric, and the honest companion to q_ipw_ate (which
    // reweights instead of pruning). Strata cuts come from the
    // per-user activity digest (exact quartiles); per-stratum terms
    // are quantized once to 9 dp before the 4-row weighted sum.
    QueryDef("q_cem_att",
      (s, d) => {
        // the per-user digest feeds the quartile cuts AND the final
        // stratified plan — persisted so events aggregates once, and
        // released by QueryDef.digest once the 1-row result is in hand
        val pu0 = graft.sources.Tables.events(s, d)
          .groupBy(col("user_id"))
          .agg(count(lit(1)).as("n_ev"),
            sum(when(col("event_type") === "error", 1L).otherwise(0L))
              .as("n_err"),
            sum(when(col("event_type") === "purchase", 1L).otherwise(0L))
              .as("y"))
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        val errTot = broadcast(pu0.agg(sum(col("n_err")).as("te"),
          count(lit(1)).as("tu")))
        val perUser = pu0.crossJoin(errTot)
          .select(col("n_ev"),
            (col("n_err") * col("tu") > col("te")).as("treated"),
            col("y"))
        val cell = perUser.groupBy(col("n_ev")).agg(count(lit(1)).as("c"))
        val cum = cell.withColumn("cumc",
          sum(col("c")).over(Window.orderBy(col("n_ev"))
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        val tot = broadcast(cell.agg(sum(col("c")).as("nu")))
        // all three quartile cuts in ONE action (was one .head() per
        // cut, each re-running the events aggregation end to end)
        val cutsRow = cum.crossJoin(tot)
          .agg(
            min(when(col("cumc") * 4 >= col("nu"), col("n_ev"))).as("c1"),
            min(when(col("cumc") * 4 >= col("nu") * 2, col("n_ev")))
              .as("c2"),
            min(when(col("cumc") * 4 >= col("nu") * 3, col("n_ev")))
              .as("c3"))
          .head()
        val (c1, c2, c3) =
          (cutsRow.getLong(0), cutsRow.getLong(1), cutsRow.getLong(2))
        val strat = perUser.withColumn("stratum",
          when(col("n_ev") <= c1, 0).when(col("n_ev") <= c2, 1)
            .when(col("n_ev") <= c3, 2).otherwise(3))
        val byS = strat.groupBy(col("stratum")).agg(
          sum(when(col("treated"), 1L).otherwise(0L)).as("n1"),
          sum(when(col("treated"), col("y")).otherwise(0L)).as("s1"),
          sum(when(!col("treated"), 1L).otherwise(0L)).as("n0"),
          sum(when(!col("treated"), col("y")).otherwise(0L)).as("s0"))
          .filter(col("n1") > 0 && col("n0") > 0)
        def dbl(c: String) = col(c).cast("double")
        val nt = broadcast(byS.agg(sum(col("n1")).as("nt1"),
          sum(col("s1")).as("st1"), sum(col("n0")).as("nt0"),
          sum(col("s0")).as("st0"),
          count(lit(1)).as("n_strata")))
        val att = byS.crossJoin(nt)
          .select(col("n_strata"), col("nt1"),
            round(dbl("n1") / dbl("nt1") *
              (dbl("s1") / dbl("n1") - dbl("s0") / dbl("n0")), 9)
              .cast("decimal(20,9)").as("term"),
            (dbl("st1") / dbl("nt1") - dbl("st0") / dbl("nt0"))
              .as("naive"))
          .groupBy(col("n_strata"), col("nt1"), col("naive"))
          .agg(sum(col("term")).as("att"))
          .select(col("nt1").as("n_treated"),
            col("n_strata").as("n_matched_strata"),
            round(col("att").cast("double"), 6).as("att"),
            round(col("naive"), 6).as("naive_diff"))
        QueryDef.digest(s, att, pu0)
      },
      Some("""WITH pu0 AS (SELECT count(*)::BIGINT AS n_ev,
             |    sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END)
             |      ::BIGINT AS n_err,
             |    sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0
             |      END)::BIGINT AS y
             |  FROM events GROUP BY user_id),
             |errtot AS (SELECT sum(n_err)::BIGINT AS te,
             |    count(*)::BIGINT AS tu FROM pu0),
             |per_user AS (SELECT n_ev, n_err * tu > te AS treated, y
             |  FROM pu0, errtot),
             |cell AS (SELECT n_ev, count(*)::BIGINT AS c FROM per_user
             |  GROUP BY 1),
             |cum AS (SELECT n_ev, sum(c) OVER (ORDER BY n_ev
             |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
             |    AS cumc FROM cell),
             |tot AS (SELECT sum(c)::BIGINT AS nu FROM cell),
             |cuts AS (SELECT
             |    (SELECT min(n_ev) FROM cum, tot WHERE cumc * 4 >= nu)
             |      AS c1,
             |    (SELECT min(n_ev) FROM cum, tot
             |      WHERE cumc * 4 >= nu * 2) AS c2,
             |    (SELECT min(n_ev) FROM cum, tot
             |      WHERE cumc * 4 >= nu * 3) AS c3),
             |strat AS (SELECT CASE WHEN n_ev <= c1 THEN 0
             |      WHEN n_ev <= c2 THEN 1 WHEN n_ev <= c3 THEN 2
             |      ELSE 3 END AS stratum, treated, y
             |  FROM per_user, cuts),
             |bys AS (SELECT stratum,
             |    sum(CASE WHEN treated THEN 1 ELSE 0 END)::BIGINT AS n1,
             |    sum(CASE WHEN treated THEN y ELSE 0 END)::BIGINT AS s1,
             |    sum(CASE WHEN NOT treated THEN 1 ELSE 0 END)::BIGINT
             |      AS n0,
             |    sum(CASE WHEN NOT treated THEN y ELSE 0 END)::BIGINT
             |      AS s0
             |  FROM strat GROUP BY 1
             |  HAVING sum(CASE WHEN treated THEN 1 ELSE 0 END) > 0
             |    AND sum(CASE WHEN NOT treated THEN 1 ELSE 0 END) > 0),
             |nt AS (SELECT sum(n1)::BIGINT AS nt1, sum(s1)::BIGINT
             |      AS st1,
             |    sum(n0)::BIGINT AS nt0, sum(s0)::BIGINT AS st0,
             |    count(*)::BIGINT AS n_strata FROM bys),
             |terms AS (SELECT n_strata, nt1,
             |    round(n1::DOUBLE / nt1::DOUBLE
             |      * (s1::DOUBLE / n1::DOUBLE - s0::DOUBLE / n0::DOUBLE),
             |      9)::DECIMAL(20,9) AS term,
             |    st1::DOUBLE / nt1::DOUBLE - st0::DOUBLE / nt0::DOUBLE
             |      AS naive
             |  FROM bys, nt)
             |SELECT nt1 AS n_treated, n_strata AS n_matched_strata,
             |  round(sum(term)::DOUBLE, 6) AS att,
             |  round(naive, 6) AS naive_diff
             |FROM terms GROUP BY 1, 2, naive""".stripMargin)),

    // Offline follow-the-leader bandit replay: arms = event types,
    // the day-t reward of an arm is its realized mean value that day
    // (9 dp-quantized exact ratio), and FTL plays the arm with the
    // best cumulative PRIOR mean (day 1 and unseen arms fall to the
    // alphabetical default — fully deterministic, no RNG). Because
    // rewards are logged for every arm every day, the replay is pure
    // windows over the (day × arm) digest: per-arm prior-cumulative
    // means, a per-day argmax, and a quantized regret sum vs the
    // per-day oracle best. The policy-evaluation harness shape used
    // to vet ranking/allocation changes offline.
    QueryDef("q_bandit_replay",
      (s, d) => {
        val ad = graft.sources.Tables.events(s, d)
          .groupBy(to_date(col("ts")).as("day"),
            col("event_type").as("arm"))
          .agg(sum(floor(col("value") * 1000).cast("long")).as("sv"),
            count(lit(1)).as("c"))
        val wArm = Window.partitionBy(col("arm")).orderBy(col("day"))
          .rowsBetween(Window.unboundedPreceding, -1)
        val withPrior = ad
          .withColumn("ps", sum(col("sv")).over(wArm))
          .withColumn("pc", sum(col("c")).over(wArm))
          .withColumn("prior_mean",
            round(col("ps").cast("double") / col("pc").cast("double"), 9))
          .withColumn("reward",
            round(col("sv").cast("double") / col("c").cast("double"), 9)
              .cast("decimal(20,9)"))
        val wDay = Window.partitionBy(col("day"))
          .orderBy(col("prior_mean").desc_nulls_last, col("arm"))
        val chosen = withPrior
          .withColumn("pick", row_number().over(wDay))
          .withColumn("best",
            max(col("reward")).over(Window.partitionBy(col("day"))))
        val day = chosen.filter(col("pick") === 1)
          .select(col("day"), col("arm"),
            (col("best") - col("reward")).as("regret"))
        day.agg(count(lit(1)).as("n_days"),
            sum(col("regret")).as("tr"),
            max_by(col("arm"), col("day")).as("final_arm"))
          .select(col("n_days"),
            round(col("tr").cast("double") / 1000.0, 6)
              .as("total_regret"),
            col("final_arm"))
      },
      Some("""WITH ad AS (SELECT ts::DATE AS day, event_type AS arm,
             |    sum(floor(value * 1000)::BIGINT)::BIGINT AS sv,
             |    count(*)::BIGINT AS c
             |  FROM events GROUP BY 1, 2),
             |wp AS (SELECT day, arm,
             |    round((sum(sv) OVER w)::DOUBLE
             |      / (sum(c) OVER w)::DOUBLE, 9) AS prior_mean,
             |    round(sv::DOUBLE / c::DOUBLE, 9)::DECIMAL(20,9)
             |      AS reward
             |  FROM ad WINDOW w AS (PARTITION BY arm ORDER BY day
             |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)),
             |ch AS (SELECT day, arm, reward,
             |    row_number() OVER (PARTITION BY day
             |      ORDER BY prior_mean DESC NULLS LAST, arm) AS pick,
             |    max(reward) OVER (PARTITION BY day) AS best
             |  FROM wp),
             |dd AS (SELECT day, arm, best - reward AS regret FROM ch
             |  WHERE pick = 1)
             |SELECT count(*)::BIGINT AS n_days,
             |  round(sum(regret)::DOUBLE / 1000.0, 6) AS total_regret,
             |  max_by(arm, day) AS final_arm
             |FROM dd""".stripMargin)),

    // Cross-spectrum between the daily view and click channels at the
    // 7/14/30-day cycles: per-period Fourier amplitudes for BOTH
    // channels plus the cross-spectral phase, reported as a LAG IN
    // DAYS — "clicks trail views by x days at the weekly rhythm", the
    // two-channel extension of q_periodogram/q_lomb_scargle and the
    // frequency-domain cousin of q_xcorr. Channels are exactly
    // integer-centered (n·y − Σy); trig terms are quantized once to
    // 6 dp so all eight sums are exact DECIMAL reductions; atan2 only
    // in the 3-row projection.
    QueryDef("q_cross_spectrum",
      (s, d) => {
        val daily = graft.sources.Tables.events(s, d)
          .groupBy(to_date(col("ts")).as("day"))
          .agg(sum(when(col("event_type") === "view", 1L).otherwise(0L))
              .as("xv"),
            sum(when(col("event_type") === "click", 1L).otherwise(0L))
              .as("yv"))
          .withColumn("t",
            (row_number().over(Window.orderBy(col("day"))) - 1)
              .cast("long"))
        val g = broadcast(daily.agg(count(lit(1)).as("n"),
          sum(col("xv")).as("sx"), sum(col("yv")).as("sy")))
        val c = daily.crossJoin(g)
          .select(col("t"), (col("n") * col("xv") - col("sx")).as("cx"),
            (col("n") * col("yv") - col("sy")).as("cy"))
        val terms = c.crossJoin(
            broadcast(s.range(3).select(
              when(col("id") === 0, 7L).when(col("id") === 1, 14L)
                .otherwise(30L).as("p"))))
          .selectExpr("p",
            """cast(round(cast(cx as double) * cos(
              |  2.0 * 3.141592653589793 * cast(t % p as double)
              |  / cast(p as double)), 6) as decimal(38,6)) as xa"""
              .stripMargin,
            """cast(round(cast(cx as double) * sin(
              |  2.0 * 3.141592653589793 * cast(t % p as double)
              |  / cast(p as double)), 6) as decimal(38,6)) as xb"""
              .stripMargin,
            """cast(round(cast(cy as double) * cos(
              |  2.0 * 3.141592653589793 * cast(t % p as double)
              |  / cast(p as double)), 6) as decimal(38,6)) as ya"""
              .stripMargin,
            """cast(round(cast(cy as double) * sin(
              |  2.0 * 3.141592653589793 * cast(t % p as double)
              |  / cast(p as double)), 6) as decimal(38,6)) as yb"""
              .stripMargin)
        val pw = terms.groupBy(col("p"))
          .agg(sum(col("xa")).as("ax"), sum(col("xb")).as("bx"),
            sum(col("ya")).as("ay"), sum(col("yb")).as("by"))
        def dbl(c: String) = col(c).cast("double")
        val re = dbl("ax") * dbl("ay") + dbl("bx") * dbl("by")
        val im = dbl("bx") * dbl("ay") - dbl("ax") * dbl("by")
        pw.select(col("p").as("period_days"),
            round(sqrt(dbl("ax") * dbl("ax") + dbl("bx") * dbl("bx")), 2)
              .as("amp_views"),
            round(sqrt(dbl("ay") * dbl("ay") + dbl("by") * dbl("by")), 2)
              .as("amp_clicks"),
            round(atan2(im, re), 6).as("phase_rad"),
            round(atan2(im, re) / (2.0 * math.Pi) *
              col("p").cast("double"), 4).as("lag_days"))
          .orderBy(col("period_days"))
      },
      Some("""WITH daily AS (SELECT day,
             |    row_number() OVER (ORDER BY day) - 1 AS t, xv, yv
             |  FROM (SELECT ts::DATE AS day,
             |    sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END)
             |      ::BIGINT AS xv,
             |    sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
             |      ::BIGINT AS yv
             |  FROM events GROUP BY 1)),
             |g AS (SELECT count(*)::BIGINT AS n, sum(xv)::BIGINT AS sx,
             |    sum(yv)::BIGINT AS sy FROM daily),
             |c AS (SELECT t, g.n * xv - g.sx AS cx,
             |    g.n * yv - g.sy AS cy FROM daily, g),
             |p AS (SELECT unnest([7, 14, 30])::BIGINT AS p),
             |terms AS (SELECT p.p,
             |    round(cx::DOUBLE * cos(2.0 * 3.141592653589793
             |      * (t % p.p)::DOUBLE / p.p::DOUBLE), 6)
             |      ::DECIMAL(38,6) AS xa,
             |    round(cx::DOUBLE * sin(2.0 * 3.141592653589793
             |      * (t % p.p)::DOUBLE / p.p::DOUBLE), 6)
             |      ::DECIMAL(38,6) AS xb,
             |    round(cy::DOUBLE * cos(2.0 * 3.141592653589793
             |      * (t % p.p)::DOUBLE / p.p::DOUBLE), 6)
             |      ::DECIMAL(38,6) AS ya,
             |    round(cy::DOUBLE * sin(2.0 * 3.141592653589793
             |      * (t % p.p)::DOUBLE / p.p::DOUBLE), 6)
             |      ::DECIMAL(38,6) AS yb
             |  FROM c, p),
             |pw AS (SELECT p, sum(xa) AS ax, sum(xb) AS bx,
             |    sum(ya) AS ay, sum(yb) AS "by" FROM terms GROUP BY 1)
             |SELECT p AS period_days,
             |  round(sqrt(ax::DOUBLE * ax::DOUBLE
             |    + bx::DOUBLE * bx::DOUBLE), 2) AS amp_views,
             |  round(sqrt(ay::DOUBLE * ay::DOUBLE
             |    + "by"::DOUBLE * "by"::DOUBLE), 2) AS amp_clicks,
             |  round(atan2(bx::DOUBLE * ay::DOUBLE
             |      - ax::DOUBLE * "by"::DOUBLE,
             |    ax::DOUBLE * ay::DOUBLE + bx::DOUBLE * "by"::DOUBLE),
             |    6) AS phase_rad,
             |  round(atan2(bx::DOUBLE * ay::DOUBLE
             |      - ax::DOUBLE * "by"::DOUBLE,
             |    ax::DOUBLE * ay::DOUBLE + bx::DOUBLE * "by"::DOUBLE)
             |    / (2.0 * 3.141592653589793) * p::DOUBLE, 4)
             |    AS lag_days
             |FROM pw ORDER BY period_days""".stripMargin)),

    // EWMA control chart (Roberts 1959; λ = 0.2, L = 3) on the daily
    // event counts — the SPC memory chart completing q_imr_control
    // (individuals) and q_xbar_r_chart (subgroups). Phase-I discipline:
    // the in-control target μ₀ and σ₀ come from the FIRST QUARTER of
    // the calendar (a chart targeted on the full-sample mean can never
    // flag the shift that moved that mean). With λ = 0.2 the L = 3
    // limit collapses to μ₀ ± σ₀√(1 − 0.64^t). z_t comes from the
    // exponentially-weighted CLOSED FORM — a (t ≥ i) pair join on the
    // calendar digest with 9 dp-quantized weight terms — so there is
    // no sequential fold to replay and every sum is order-independent.
    // A σ₀ = 0 baseline disarms the chart (zero limits never alarm;
    // ratio NULL via the ANSI ÷0 guard). O(days²) on the digest only.
    QueryDef("q_ewma_chart",
      (s, d) => {
        val daily = graft.sources.Tables.events(s, d)
          .groupBy(to_date(col("ts")).as("day"))
          .agg(count(lit(1)).as("y"))
          .withColumn("t",
            row_number().over(Window.orderBy(col("day"))).cast("long"))
        val g2 = broadcast(daily.crossJoin(
            broadcast(daily.agg(count(lit(1)).as("n"))))
          .filter(col("t") * 4 <= col("n"))
          .agg(max(col("n")).as("n"), count(lit(1)).as("c1"),
            sum(col("y")).as("sy"), sum(col("y") * col("y")).as("qy")))
        def dbl(c: String) = col(c).cast("double")
        val mu = dbl("sy") / dbl("c1")
        val sd = sqrt(dbl("qy") / dbl("c1") - mu * mu)
        val z = daily.select(col("t").as("tt"))
          .join(daily.select(col("t").as("i"), col("y")),
            col("i") <= col("tt"))
          .select(col("tt"),
            round(lit(0.2) * pow(lit(0.8), (col("tt") - col("i"))
              .cast("double")) * col("y").cast("double"), 9)
              .cast("decimal(28,9)").as("term"))
          .groupBy(col("tt")).agg(sum(col("term")).as("zs"))
        val chart = z.crossJoin(g2)
          .select(col("tt"),
            (col("zs").cast("double") +
              pow(lit(0.8), col("tt").cast("double")) * mu).as("zt"),
            (sd * sqrt(lit(1.0) -
              pow(lit(0.64), col("tt").cast("double")))).as("lim"),
            mu.as("mu"))
        chart.agg(count(lit(1)).as("n_days"),
            sum(when(abs(col("zt") - col("mu")) > col("lim") &&
              col("lim") > 0.0, 1L).otherwise(0L)).as("n_violations"),
            max(round(abs(col("zt") - col("mu")) /
              nullif(col("lim"), lit(0.0)), 6)).as("max_ratio"))
          .select(col("n_days"), col("n_violations"),
            round(col("max_ratio"), 4).as("max_ratio"))
      },
      Some("""WITH daily AS (SELECT row_number() OVER (ORDER BY day)
             |      AS t, y FROM (
             |    SELECT ts::DATE AS day, count(*)::BIGINT AS y
             |    FROM events GROUP BY 1)),
             |nn AS (SELECT count(*)::BIGINT AS n FROM daily),
             |g2 AS (SELECT max(n)::BIGINT AS n, count(*)::BIGINT AS c1,
             |    sum(y)::BIGINT AS sy, sum(y * y)::BIGINT AS qy
             |  FROM daily, nn WHERE t * 4 <= n),
             |z AS (SELECT a.t AS tt,
             |    sum(round(0.2 * pow(0.8, (a.t - b.t)::DOUBLE)
             |      * b.y::DOUBLE, 9)::DECIMAL(28,9)) AS zs
             |  FROM daily a JOIN daily b ON b.t <= a.t
             |  GROUP BY 1),
             |chart AS (SELECT tt,
             |    zs::DOUBLE + pow(0.8, tt::DOUBLE)
             |      * (sy::DOUBLE / c1::DOUBLE) AS zt,
             |    sqrt(qy::DOUBLE / c1::DOUBLE - (sy::DOUBLE / c1::DOUBLE)
             |        * (sy::DOUBLE / c1::DOUBLE))
             |      * sqrt(1.0 - pow(0.64, tt::DOUBLE)) AS lim,
             |    sy::DOUBLE / c1::DOUBLE AS mu
             |  FROM z, g2)
             |SELECT count(*)::BIGINT AS n_days,
             |  sum(CASE WHEN abs(zt - mu) > lim AND lim > 0.0
             |    THEN 1 ELSE 0 END)::BIGINT AS n_violations,
             |  round(max(round(abs(zt - mu) / nullif(lim, 0.0), 6)), 4)
             |    AS max_ratio
             |FROM chart""".stripMargin)),

    // Western Electric runs rules (WECO 1956) on the daily
    // individuals chart: rule 1 (beyond 3σ), rule 2 (2 of 3 beyond
    // 2σ same side), rule 3 (4 of 5 beyond 1σ same side), rule 4
    // (8 consecutive same side) — the pattern tests that catch
    // drifts a lone 3σ test sleeps through, completing the SPC suite
    // (q_imr_control / q_xbar_r_chart / q_ewma_chart). Phase-I μ/σ
    // from the first quarter; zone flags are EXACT integer
    // cross-multiplications (c1²·(y−μ)² vs k²·var-numerator — no
    // float σ), and each rule is a windowed integer count over the
    // calendar digest.
    QueryDef("q_western_electric",
      (s, d) => {
        val daily = graft.sources.Tables.events(s, d)
          .groupBy(to_date(col("ts")).as("day"))
          .agg(count(lit(1)).as("y"))
          .withColumn("t",
            row_number().over(Window.orderBy(col("day"))).cast("long"))
        val g = broadcast(daily.crossJoin(
            broadcast(daily.agg(count(lit(1)).as("n"))))
          .filter(col("t") * 4 <= col("n"))
          .agg(count(lit(1)).as("c1"), sum(col("y")).as("sy"),
            sum(col("y") * col("y")).as("qy")))
        // zone test: |y − μ₀| > kσ₀ ⇔ c1²(c1·y − sy)² > k²·c1²·(c1·qy − sy²)/c1
        //   ⇔ (c1·y − sy)² · c1 > k² · (c1·qy − sy²)  — all integers
        val dev = (col("c1") * col("y") - col("sy"))
          .cast("decimal(38,0)")
        val varNum = (col("c1") * col("qy") - col("sy") * col("sy"))
          .cast("decimal(38,0)")
        def beyond(k: Int) = dev * dev * col("c1") >
          lit(k * k) * varNum
        val side = signum((col("c1") * col("y") - col("sy"))
          .cast("double"))
        val flags = daily.crossJoin(g)
          .select(col("t"),
            when(beyond(3), 1L).otherwise(0L).as("b3"),
            when(beyond(2), side).otherwise(0.0).as("s2"),
            when(beyond(1), side).otherwise(0.0).as("s1"),
            side.as("sd"))
        val w3 = Window.orderBy(col("t")).rowsBetween(-2, 0)
        val w5 = Window.orderBy(col("t")).rowsBetween(-4, 0)
        val w8 = Window.orderBy(col("t")).rowsBetween(-7, 0)
        val ruled = flags
          .withColumn("r1", col("b3"))
          .withColumn("r2", when(abs(sum(col("s2")).over(w3)) >= 2.0 &&
            count(lit(1)).over(w3) === 3, 1L).otherwise(0L))
          .withColumn("r3", when(abs(sum(col("s1")).over(w5)) >= 4.0 &&
            count(lit(1)).over(w5) === 5, 1L).otherwise(0L))
          .withColumn("r4", when(abs(sum(col("sd")).over(w8)) >= 8.0 &&
            count(lit(1)).over(w8) === 8, 1L).otherwise(0L))
        ruled.agg(count(lit(1)).as("n_days"),
          sum(col("r1")).as("rule1_beyond3"),
          sum(col("r2")).as("rule2_2of3"),
          sum(col("r3")).as("rule3_4of5"),
          sum(col("r4")).as("rule4_8run"))
      },
      Some("""WITH daily AS (SELECT row_number() OVER (ORDER BY day)
             |      AS t, y FROM (
             |    SELECT ts::DATE AS day, count(*)::BIGINT AS y
             |    FROM events GROUP BY 1)),
             |nn AS (SELECT count(*)::BIGINT AS n FROM daily),
             |g AS (SELECT count(*)::BIGINT AS c1, sum(y)::BIGINT AS sy,
             |    sum(y * y)::BIGINT AS qy FROM daily, nn
             |  WHERE t * 4 <= n),
             |flags AS (SELECT t,
             |    CASE WHEN (c1 * y - sy)::HUGEINT * (c1 * y - sy) * c1
             |      > 9 * (c1 * qy - sy::HUGEINT * sy) THEN 1 ELSE 0 END
             |      AS b3,
             |    CASE WHEN (c1 * y - sy)::HUGEINT * (c1 * y - sy) * c1
             |      > 4 * (c1 * qy - sy::HUGEINT * sy)
             |      THEN sign((c1 * y - sy)::DOUBLE) ELSE 0.0 END AS s2,
             |    CASE WHEN (c1 * y - sy)::HUGEINT * (c1 * y - sy) * c1
             |      > 1 * (c1 * qy - sy::HUGEINT * sy)
             |      THEN sign((c1 * y - sy)::DOUBLE) ELSE 0.0 END AS s1,
             |    sign((c1 * y - sy)::DOUBLE) AS sd
             |  FROM daily, g),
             |ruled AS (SELECT b3 AS r1,
             |    CASE WHEN abs(sum(s2) OVER (ORDER BY t
             |        ROWS BETWEEN 2 PRECEDING AND CURRENT ROW)) >= 2.0
             |      AND count(*) OVER (ORDER BY t
             |        ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) = 3
             |      THEN 1 ELSE 0 END AS r2,
             |    CASE WHEN abs(sum(s1) OVER (ORDER BY t
             |        ROWS BETWEEN 4 PRECEDING AND CURRENT ROW)) >= 4.0
             |      AND count(*) OVER (ORDER BY t
             |        ROWS BETWEEN 4 PRECEDING AND CURRENT ROW) = 5
             |      THEN 1 ELSE 0 END AS r3,
             |    CASE WHEN abs(sum(sd) OVER (ORDER BY t
             |        ROWS BETWEEN 7 PRECEDING AND CURRENT ROW)) >= 8.0
             |      AND count(*) OVER (ORDER BY t
             |        ROWS BETWEEN 7 PRECEDING AND CURRENT ROW) = 8
             |      THEN 1 ELSE 0 END AS r4
             |  FROM flags)
             |SELECT count(*)::BIGINT AS n_days,
             |  sum(r1)::BIGINT AS rule1_beyond3,
             |  sum(r2)::BIGINT AS rule2_2of3,
             |  sum(r3)::BIGINT AS rule3_4of5,
             |  sum(r4)::BIGINT AS rule4_8run
             |FROM ruled""".stripMargin)),

    // Wald instrumental-variable estimate (Wald 1940; Angrist 1990's
    // workhorse): weekend-ness instruments daily views to identify
    // the views→purchases effect — the simplest causal slope that
    // survives confounding of x and y by a common cause, with the
    // first-stage difference reported so a weak instrument is visible
    // (β_IV = Δȳ/Δx̄ across instrument arms). Four exact integer
    // sums; doubles only in the 1-row projection (weak-instrument
    // Δx̄ = 0 NULL-guarded).
    QueryDef("q_iv_wald",
      (s, d) => {
        val daily = graft.sources.Tables.events(s, d)
          .groupBy(to_date(col("ts")).as("day"))
          .agg(sum(when(col("event_type") === "view", 1L).otherwise(0L))
              .as("x"),
            sum(when(col("event_type") === "purchase", 1L).otherwise(0L))
              .as("yy"))
          .select((dayofweek(col("day")) === 1 ||
            dayofweek(col("day")) === 7).as("z"), col("x"), col("yy"))
        val g = daily.agg(
          sum(when(col("z"), 1L).otherwise(0L)).as("n1"),
          sum(when(col("z"), col("x")).otherwise(0L)).as("x1"),
          sum(when(col("z"), col("yy")).otherwise(0L)).as("y1"),
          sum(when(!col("z"), 1L).otherwise(0L)).as("n0"),
          sum(when(!col("z"), col("x")).otherwise(0L)).as("x0"),
          sum(when(!col("z"), col("yy")).otherwise(0L)).as("y0"))
        def dbl(c: String) = col(c).cast("double")
        val dx = dbl("x1") / dbl("n1") - dbl("x0") / dbl("n0")
        val dy = dbl("y1") / dbl("n1") - dbl("y0") / dbl("n0")
        g.select(col("n1").as("n_weekend"), col("n0").as("n_weekday"),
          round(dx, 4).as("first_stage_dx"),
          round(dy, 4).as("reduced_form_dy"),
          round(dy / nullif(dx, lit(0.0)), 6).as("beta_iv"))
      },
      Some("""WITH daily AS (SELECT
             |    dayofweek(day) IN (0, 6) AS z, x, yy FROM (
             |    SELECT ts::DATE AS day,
             |      sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END)
             |        ::BIGINT AS x,
             |      sum(CASE WHEN event_type = 'purchase' THEN 1
             |        ELSE 0 END)::BIGINT AS yy
             |    FROM events GROUP BY 1)),
             |g AS (SELECT
             |    sum(CASE WHEN z THEN 1 ELSE 0 END)::BIGINT AS n1,
             |    sum(CASE WHEN z THEN x ELSE 0 END)::BIGINT AS x1,
             |    sum(CASE WHEN z THEN yy ELSE 0 END)::BIGINT AS y1,
             |    sum(CASE WHEN NOT z THEN 1 ELSE 0 END)::BIGINT AS n0,
             |    sum(CASE WHEN NOT z THEN x ELSE 0 END)::BIGINT AS x0,
             |    sum(CASE WHEN NOT z THEN yy ELSE 0 END)::BIGINT AS y0
             |  FROM daily),
             |e AS (SELECT n1, n0,
             |    x1::DOUBLE / n1::DOUBLE - x0::DOUBLE / n0::DOUBLE
             |      AS dx,
             |    y1::DOUBLE / n1::DOUBLE - y0::DOUBLE / n0::DOUBLE
             |      AS dy
             |  FROM g)
             |SELECT n1 AS n_weekend, n0 AS n_weekday,
             |  round(dx, 4) AS first_stage_dx,
             |  round(dy, 4) AS reduced_form_dy,
             |  round(dy / nullif(dx, 0.0), 6) AS beta_iv
             |FROM e""".stripMargin)),

    // Forecast-accuracy panel (Hyndman & Koehler 2006) for the
    // seasonal-naive forecast on a last-quarter holdout: MASE (scaled
    // by the TRAINING-set seasonal-naive MAE — the scale-free metric
    // that survives intermittent series where MAPE explodes), sMAPE,
    // wMAPE and a signed bias share. Split and errors are exact
    // integers (4t > 3n picks the holdout); the only per-row float,
    // the sMAPE term, is quantized once to 9 dp before its sum. The
    // evaluation-side companion to q_diebold_mariano's comparison
    // test and q_pinball_loss's quantile loss.
    QueryDef("q_mase_panel",
      (s, d) => {
        val daily = graft.sources.Tables.events(s, d)
          .groupBy(to_date(col("ts")).as("day"))
          .agg(count(lit(1)).as("y"))
        val w = Window.orderBy(col("day"))
        val lagged = daily.withColumn("l7", lag(col("y"), 7).over(w))
          .withColumn("t",
            row_number().over(Window.orderBy(col("day"))).cast("long"))
          .filter(col("l7").isNotNull)
        val n = broadcast(daily.agg(count(lit(1)).as("n")))
        val g = lagged.crossJoin(n)
          .withColumn("hold", col("t") * 4 > col("n") * 3)
          .withColumn("ae", abs(col("y") - col("l7")))
          .agg(
            sum(when(!col("hold"), col("ae"))).as("tr_ae"),
            sum(when(!col("hold"), 1L).otherwise(0L)).as("tr_n"),
            sum(when(col("hold"), col("ae"))).as("ho_ae"),
            sum(when(col("hold"), col("y") - col("l7")).otherwise(0L))
              .as("ho_e"),
            sum(when(col("hold"), col("y")).otherwise(0L)).as("ho_y"),
            sum(when(col("hold"), 1L).otherwise(0L)).as("ho_n"),
            sum(when(col("hold"),
              round(lit(2.0) * abs(col("y") - col("l7")).cast("double") /
                (col("y") + col("l7")).cast("double"), 9)
                .cast("decimal(20,9)"))).as("smape_sum"))
        def dbl(c: String) = col(c).cast("double")
        g.select(col("ho_n").as("n_holdout"),
          round((dbl("ho_ae") / dbl("ho_n")) /
            nullif(dbl("tr_ae") / dbl("tr_n"), lit(0.0)), 6).as("mase"),
          round(col("smape_sum").cast("double") / dbl("ho_n"), 6)
            .as("smape"),
          round(dbl("ho_ae") / dbl("ho_y"), 6).as("wmape"),
          round(dbl("ho_e") / nullif(dbl("ho_ae"), lit(0.0)), 6)
            .as("bias_share"))
      },
      Some("""WITH daily AS (SELECT ts::DATE AS day,
             |    count(*)::BIGINT AS y FROM events GROUP BY 1),
             |nn AS (SELECT count(*)::BIGINT AS n FROM daily),
             |lagged AS (SELECT y, l7, t FROM (
             |    SELECT y, lag(y, 7) OVER (ORDER BY day) AS l7,
             |      row_number() OVER (ORDER BY day) AS t FROM daily)
             |  WHERE l7 IS NOT NULL),
             |g AS (SELECT
             |    sum(CASE WHEN NOT (t * 4 > n * 3)
             |      THEN abs(y - l7) END)::BIGINT AS tr_ae,
             |    sum(CASE WHEN NOT (t * 4 > n * 3) THEN 1 ELSE 0 END)
             |      ::BIGINT AS tr_n,
             |    sum(CASE WHEN t * 4 > n * 3 THEN abs(y - l7) END)
             |      ::BIGINT AS ho_ae,
             |    sum(CASE WHEN t * 4 > n * 3 THEN y - l7 ELSE 0 END)
             |      ::BIGINT AS ho_e,
             |    sum(CASE WHEN t * 4 > n * 3 THEN y ELSE 0 END)::BIGINT
             |      AS ho_y,
             |    sum(CASE WHEN t * 4 > n * 3 THEN 1 ELSE 0 END)::BIGINT
             |      AS ho_n,
             |    sum(CASE WHEN t * 4 > n * 3 THEN
             |      round(2.0 * abs(y - l7)::DOUBLE
             |        / (y + l7)::DOUBLE, 9)::DECIMAL(20,9) END)
             |      AS smape_sum
             |  FROM lagged, nn)
             |SELECT ho_n AS n_holdout,
             |  round((ho_ae::DOUBLE / ho_n::DOUBLE)
             |    / nullif(tr_ae::DOUBLE / tr_n::DOUBLE, 0.0), 6)
             |    AS mase,
             |  round(smape_sum::DOUBLE / ho_n::DOUBLE, 6) AS smape,
             |  round(ho_ae::DOUBLE / ho_y::DOUBLE, 6) AS wmape,
             |  round(ho_e::DOUBLE / nullif(ho_ae::DOUBLE, 0.0), 6)
             |    AS bias_share
             |FROM g""".stripMargin)),

    // Sharpe and Sortino ratios of the daily purchase-revenue growth
    // — the risk-adjusted "is the trend worth its volatility?" pair,
    // with Sortino penalizing only downside moves (the asymmetry
    // Sharpe is blind to). Day-over-day returns are quantized once to
    // 9 dp off exact integer cent totals, so the moment sums are
    // exact DECIMAL reductions; both ratios are one-row projections
    // (flat series NULL-guarded).
    QueryDef("q_sharpe_sortino",
      (s, d) => {
        val daily = graft.sources.Tables.events(s, d)
          .filter(col("event_type") === "purchase")
          .groupBy(to_date(col("ts")).as("day"))
          .agg(sum(floor(col("value") * 100).cast("long")).as("r"))
        val w = Window.orderBy(col("day"))
        val ret = daily.withColumn("pr", lag(col("r"), 1).over(w))
          .filter(col("pr").isNotNull && col("pr") > 0)
          .select(round((col("r") - col("pr")).cast("double") /
            col("pr").cast("double"), 9).cast("decimal(20,9)").as("x"))
        val g = ret.agg(count(lit(1)).as("n"), sum(col("x")).as("sx"),
          sum(col("x") * col("x")).as("qx"),
          sum(when(col("x") < 0, col("x") * col("x"))
            .otherwise(lit(0).cast("decimal(38,18)"))).as("qd"))
        def dbl(c: String) = col(c).cast("double")
        val m = dbl("sx") / dbl("n")
        val sd = sqrt(dbl("qx") / dbl("n") - m * m)
        val dd = sqrt(dbl("qd") / dbl("n"))
        g.select(col("n").as("n_returns"),
          round(m, 6).as("mean_ret"),
          round(m / nullif(sd, lit(0.0)), 6).as("sharpe"),
          round(m / nullif(dd, lit(0.0)), 6).as("sortino"))
      },
      Some("""WITH daily AS (SELECT ts::DATE AS day,
             |    sum(floor(value * 100)::BIGINT)::BIGINT AS r
             |  FROM events WHERE event_type = 'purchase' GROUP BY 1),
             |ret AS (SELECT round((r - pr)::DOUBLE / pr::DOUBLE, 9)
             |      ::DECIMAL(20,9) AS x FROM (
             |    SELECT r, lag(r, 1) OVER (ORDER BY day) AS pr
             |    FROM daily)
             |  WHERE pr IS NOT NULL AND pr > 0),
             |g AS (SELECT count(*)::BIGINT AS n, sum(x) AS sx,
             |    sum(x * x) AS qx,
             |    sum(CASE WHEN x < 0 THEN x * x
             |      ELSE 0::DECIMAL(38,18) END) AS qd FROM ret),
             |e AS (SELECT n, sx::DOUBLE / n::DOUBLE AS m,
             |    sqrt(qx::DOUBLE / n::DOUBLE
             |      - (sx::DOUBLE / n::DOUBLE) * (sx::DOUBLE / n::DOUBLE))
             |      AS sd,
             |    sqrt(qd::DOUBLE / n::DOUBLE) AS dd
             |  FROM g)
             |SELECT n AS n_returns, round(m, 6) AS mean_ret,
             |  round(m / nullif(sd, 0.0), 6) AS sharpe,
             |  round(m / nullif(dd, 0.0), 6) AS sortino
             |FROM e""".stripMargin)),

    // Decision stump by Gini gain (Breiman et al. 1984) — the root
    // split of every tree ensemble, fit exactly: which value
    // threshold best separates purchases from the rest? Candidate
    // thresholds are the distinct value cells; left/right class
    // counts come from ONE cumulative window over the cell digest, so
    // the full gain curve costs O(|value domain|) after one fact
    // scan. Gains are computed as identical double expressions and
    // the argmax tie-breaks to the smallest threshold via a
    // (round(gain,9) DESC, vm ASC) rank. Output includes both leaf
    // purchase rates in exact ppm.
    QueryDef("q_decision_stump",
      (s, d) => {
        val cell = graft.sources.Tables.events(s, d)
          .select(floor(col("value") * 1000).cast("long").as("vm"),
            (col("event_type") === "purchase").as("pos"))
          .groupBy(col("vm"))
          .agg(sum(when(col("pos"), 1L).otherwise(0L)).as("np"),
            sum(when(!col("pos"), 1L).otherwise(0L)).as("nn"))
        val w = Window.orderBy(col("vm"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        val cum = cell.withColumn("lp", sum(col("np")).over(w))
          .withColumn("ln", sum(col("nn")).over(w))
        val tot = broadcast(cell.agg(sum(col("np")).as("tp"),
          sum(col("nn")).as("tn")))
        def dbl(c: org.apache.spark.sql.Column) = c.cast("double")
        val cand = cum.crossJoin(tot)
          .filter(col("lp") + col("ln") < col("tp") + col("tn"))
        val l = dbl(col("lp") + col("ln"))
        val r = dbl(col("tp") + col("tn") - col("lp") - col("ln"))
        val t = dbl(col("tp") + col("tn"))
        val giniL = lit(1.0) -
          dbl(col("lp")) * dbl(col("lp")) / (l * l) -
          dbl(col("ln")) * dbl(col("ln")) / (l * l)
        val giniR = lit(1.0) -
          dbl(col("tp") - col("lp")) * dbl(col("tp") - col("lp")) /
            (r * r) -
          dbl(col("tn") - col("ln")) * dbl(col("tn") - col("ln")) /
            (r * r)
        val giniP = lit(1.0) -
          dbl(col("tp")) * dbl(col("tp")) / (t * t) -
          dbl(col("tn")) * dbl(col("tn")) / (t * t)
        val gain = giniP - l / t * giniL - r / t * giniR
        val ranked = cand
          .withColumn("g9", round(gain, 9))
          .withColumn("rk", row_number().over(
            Window.orderBy(col("g9").desc, col("vm"))))
        ranked.filter(col("rk") === 1)
          .select(col("vm").as("threshold"),
            round(col("g9"), 6).as("gini_gain"),
            expr("lp * 1000000 div (lp + ln)").as("left_pos_ppm"),
            expr("(tp - lp) * 1000000 div (tp + tn - lp - ln)")
              .as("right_pos_ppm"))
      },
      Some("""WITH cell AS (SELECT floor(value * 1000)::BIGINT AS vm,
             |    sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0
             |      END)::BIGINT AS np,
             |    sum(CASE WHEN event_type <> 'purchase' THEN 1 ELSE 0
             |      END)::BIGINT AS nn
             |  FROM events GROUP BY 1),
             |cum AS (SELECT vm,
             |    sum(np) OVER (ORDER BY vm ROWS BETWEEN UNBOUNDED
             |      PRECEDING AND CURRENT ROW) AS lp,
             |    sum(nn) OVER (ORDER BY vm ROWS BETWEEN UNBOUNDED
             |      PRECEDING AND CURRENT ROW) AS ln
             |  FROM cell),
             |tot AS (SELECT sum(np)::BIGINT AS tp, sum(nn)::BIGINT AS tn
             |  FROM cell),
             |cand AS (SELECT vm, lp, ln, tp, tn,
             |    round(
             |      (1.0 - tp::DOUBLE * tp::DOUBLE
             |          / ((tp + tn)::DOUBLE * (tp + tn)::DOUBLE)
             |        - tn::DOUBLE * tn::DOUBLE
             |          / ((tp + tn)::DOUBLE * (tp + tn)::DOUBLE))
             |      - (lp + ln)::DOUBLE / (tp + tn)::DOUBLE
             |        * (1.0 - lp::DOUBLE * lp::DOUBLE
             |            / ((lp + ln)::DOUBLE * (lp + ln)::DOUBLE)
             |          - ln::DOUBLE * ln::DOUBLE
             |            / ((lp + ln)::DOUBLE * (lp + ln)::DOUBLE))
             |      - (tp + tn - lp - ln)::DOUBLE / (tp + tn)::DOUBLE
             |        * (1.0 - (tp - lp)::DOUBLE * (tp - lp)::DOUBLE
             |            / ((tp + tn - lp - ln)::DOUBLE
             |              * (tp + tn - lp - ln)::DOUBLE)
             |          - (tn - ln)::DOUBLE * (tn - ln)::DOUBLE
             |            / ((tp + tn - lp - ln)::DOUBLE
             |              * (tp + tn - lp - ln)::DOUBLE)), 9) AS g9
             |  FROM cum, tot WHERE lp + ln < tp + tn),
             |best AS (SELECT vm, g9, lp, ln, tp, tn,
             |    row_number() OVER (ORDER BY g9 DESC, vm) AS rk
             |  FROM cand)
             |SELECT vm AS threshold, round(g9, 6) AS gini_gain,
             |  (lp * 1000000 // (lp + ln))::BIGINT AS left_pos_ppm,
             |  ((tp - lp) * 1000000 // (tp + tn - lp - ln))::BIGINT
             |    AS right_pos_ppm
             |FROM best WHERE rk = 1""".stripMargin))
  )
}
