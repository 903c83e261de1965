package graft.queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Round-14 extension wave: corpus-cardinality and data-quality
  * kernels on the LLM-pipeline side plus classical screens and two
  * sensor-series filters the families still lacked —
  *
  *  - `corpus_hll_distinct`: a DETERMINISTIC HyperLogLog (Flajolet et
  *    al. 2007) whose md5-derived register contents replay bit-exactly
  *    in DuckDB, so — unlike a randomized sketch — even the estimate
  *    is hash-graded (the `corpus_kmv_distinct` discipline);
  *  - `text_gopher_rules`: the Gopher quality-filter rule battery
  *    (Rae et al. 2021, App. A) as exact integer comparisons;
  *  - `q_grubbs_test`: Grubbs' max-deviation outlier test (Grubbs
  *    1950) over the daily-count digest;
  *  - `q_hampel_filter` / `q_savgol_smooth`: the median/MAD despike
  *    and 5-point quadratic Savitzky-Golay smoother — the robust and
  *    polynomial siblings of the reference's F4 quantile clamp.
  *
  * (A fourth candidate — Page's L across the weekly rhythm — was
  * DROPPED when the duplicate-name audit surfaced the mature
  * `q_page_trend` incumbent in R11Queries; adding a second ordered-
  * alternative spelling would shadow the registry, not extend it.)
  *
  * Determinism discipline (repo convention): facts collapse in ONE
  * map-side pass to a calendar/bucket digest; everything until the
  * last projection is exact integers (midrank×2 ranks, decimal
  * cross-products); shared e-notation double literals make both
  * engines run identical IEEE arithmetic; finals round(…, 6).
  */
object R16Queries {

  /** The 8 Gopher "must contain ≥2" stop words (Rae et al. 2021). */
  private val GopherStops =
    Seq("the", "be", "to", "of", "and", "that", "have", "with")

  val defs: Seq[QueryDef] = Seq(

    // Hampel identifier (Hampel 1974; Pearson 2002) over the daily
    // series — the MEDIAN/MAD sibling of the reference's quantile
    // spike smoothing (F4): a day is an outlier when
    // |x − med₇| > 3·1.4826·MAD₇ over its centered 7-day window.
    // Window medians are exact integers (element 4 of the sorted
    // 7-array), and the flag is the cross-multiplied integer
    // inequality 10000·|x−med| > 44478·MAD — no float anywhere.
    // Scale: one shuffle to the ≤366-day digest; the window arrays
    // ride the digest (the unpartitioned window is calendar-sized).
    QueryDef("q_hampel_filter",
      (s, d) => {
        val daily = graft.sources.Tables.events(s, d)
          .groupBy(to_date(col("ts")).as("day"))
          .agg(count(lit(1)).as("x"))
        val w = Window.orderBy(col("day")).rowsBetween(-3, 3)
        daily.withColumn("arr", collect_list(col("x")).over(w))
          .filter(size(col("arr")) === 7)
          .selectExpr("cast(day as string) as day", "x",
            "element_at(sort_array(arr), 4) as med",
            """element_at(sort_array(transform(arr,
              |  v -> abs(v - element_at(sort_array(arr), 4)))), 4)
              |  as mad""".stripMargin)
          .selectExpr("day", "x", "med", "mad",
            "case when 10000 * abs(x - med) > 44478 * mad" +
              " then 1L else 0L end as is_outlier")
          .orderBy(col("day"))
      },
      Some("""WITH daily AS (SELECT ts::DATE AS day, count(*)::BIGINT AS x
             |  FROM events GROUP BY 1),
             |w AS (SELECT day, x,
             |    list(x) OVER (ORDER BY day
             |      ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING) AS arr
             |  FROM daily),
             |f AS (SELECT day::VARCHAR AS day, x,
             |    list_sort(arr)[4]::BIGINT AS med,
             |    list_sort(list_transform(arr,
             |      v -> abs(v - list_sort(arr)[4])))[4]::BIGINT AS mad
             |  FROM w WHERE len(arr) = 7)
             |SELECT day, x, med, mad,
             |  (CASE WHEN 10000 * abs(x - med) > 44478 * mad
             |    THEN 1 ELSE 0 END)::BIGINT AS is_outlier
             |FROM f ORDER BY day""".stripMargin)),

    // Savitzky-Golay smoothing (Savitzky & Golay 1964): the 5-point
    // quadratic least-squares filter (-3, 12, 17, 12, -3)/35 over
    // the daily series — the polynomial-smoothing sibling of F4's
    // quantile clamp and q_hampel_filter's median despike. The
    // convolution is published ×35 as an EXACT BIGINT (sm_x35), so
    // the gate compares integers and the filter's defining property
    // — quadratics reproduce exactly, sm_x35 ≡ 35·x — is a pinned
    // spec law. Interior days only (the full 5-point stencil).
    // Scale: lag/lead windows on the calendar digest.
    QueryDef("q_savgol_smooth",
      (s, d) => {
        val daily = graft.sources.Tables.events(s, d)
          .groupBy(to_date(col("ts")).as("day"))
          .agg(count(lit(1)).as("x"))
        val w = Window.orderBy(col("day"))
        daily
          .withColumn("m2", lag(col("x"), 2).over(w))
          .withColumn("m1", lag(col("x"), 1).over(w))
          .withColumn("p1", lead(col("x"), 1).over(w))
          .withColumn("p2", lead(col("x"), 2).over(w))
          .filter(col("m2").isNotNull && col("m1").isNotNull &&
            col("p1").isNotNull && col("p2").isNotNull)
          .selectExpr("cast(day as string) as day", "x",
            "-3 * m2 + 12 * m1 + 17 * x + 12 * p1 - 3 * p2 as sm_x35")
          .orderBy(col("day"))
      },
      Some("""WITH daily AS (SELECT ts::DATE AS day, count(*)::BIGINT AS x
             |  FROM events GROUP BY 1),
             |l AS (SELECT day, x,
             |    lag(x, 2) OVER w AS m2, lag(x, 1) OVER w AS m1,
             |    lead(x, 1) OVER w AS p1, lead(x, 2) OVER w AS p2
             |  FROM daily WINDOW w AS (ORDER BY day))
             |SELECT day::VARCHAR AS day, x,
             |  (-3 * m2 + 12 * m1 + 17 * x + 12 * p1 - 3 * p2)::BIGINT
             |    AS sm_x35
             |FROM l WHERE m2 IS NOT NULL AND m1 IS NOT NULL
             |  AND p1 IS NOT NULL AND p2 IS NOT NULL
             |ORDER BY day""".stripMargin)),

    // Deterministic HyperLogLog (Flajolet, Fusy, Gandouet, Meunier
    // 2007) over document 3-gram shingles, next to the exact count:
    // 256 registers from the top 8 bits of a 60-bit md5 hash, rank =
    // leading-zero count of the remaining 52 bits (+1) via the
    // cross-engine `length(bin(w))` bit-length idiom. The register
    // sum Σ2^(−Mj) is kept EXACT by scaling to Σ2^(53−Mj) in BIGINT
    // (order-independent — a float sum of 256 terms spanning 2^55
    // exponent range would be addition-order dependent), so the
    // estimate (and its linear-counting small-range branch) is one
    // shared double expression both engines evaluate identically.
    // Scale shape: the sketch side is a map-side-combined 256-group
    // max — no distinct shuffle at ANY corpus size (max is
    // duplicate-insensitive); the exact distinct rides along as the
    // accuracy audit, same as corpus_kmv_distinct.
    QueryDef("corpus_hll_distinct",
      (s, d) => {
        // r15: the 'hll:'-domain shingle hashes come straight from the
        // fused ShinglesPos60 kernel (prefix param) — no per-position
        // concat or hex-md5 through Catalyst; the cheap token-count
        // guard replaces a kernel-column filter (scan pushdown would
        // double-evaluate). n_exact counts distinct HASHES on both
        // engines (collision-symmetric; identical in practice).
        val g = graft.sources.Tables.load(s, d, "documents")
          .filter(size(split(col("text"), " ")) >= 3)
          .transform(graft.queries.QueryDef.fanOut)
          .select(explode(graft.functions.TextHashFunctions
            .shinglesPos60(col("text"), 3, "hll:")).as("h"))
        val regs = g
          .selectExpr("h div 4503599627370496 as b",
            "h % 4503599627370496 as w")
          .selectExpr("b",
            "case when w = 0 then 53L else 53L - length(bin(w)) end as r")
          .groupBy(col("b")).agg(max(col("r")).as("mj"))
        val sum2 = s.range(256).select(col("id").as("b"))
          .join(regs, Seq("b"), "left")
          .selectExpr("coalesce(mj, 0L) as m")
          .agg(sum(expr("cast(power(2.0e0, 53 - m) as bigint)")).as("s"),
            sum(expr("case when m = 0 then 1L else 0L end"))
              .as("n_empty_buckets"))
        val est = sum2.selectExpr("n_empty_buckets",
            "(7.213e-1 / (1.0e0 + 1.079e0 / 2.56e2)) * 6.5536e4" +
              " * 9.007199254740992e15 / cast(s as double) as raw")
          .selectExpr("n_empty_buckets",
            """cast(floor(case when n_empty_buckets > 0 and raw <= 6.4e2
              |  then 2.56e2 * ln(2.56e2 / cast(n_empty_buckets as double))
              |  else raw end) as bigint) as hll_estimate""".stripMargin)
        g.agg(countDistinct(col("h")).as("n_exact"))
          .crossJoin(broadcast(est))
          .selectExpr("n_exact", "n_empty_buckets", "hll_estimate",
            // nullif guard: on an empty corpus Spark's `div` yields
            // NULL but DuckDB's `//` raises division-by-zero — both
            // engines return NULL with the explicit guard
            "abs(hll_estimate - n_exact) * 1000000 div nullif(n_exact, 0) as err_ppm")
      },
      Some("""WITH t AS (SELECT string_split(lower(text), ' ') AS tk
             |  FROM documents
             |  WHERE len(string_split(lower(text), ' ')) >= 3),
             |g AS (SELECT unnest(list_transform(range(len(tk) - 2),
             |    i -> tk[i+1] || ' ' || tk[i+2] || ' ' || tk[i+3])) AS g
             |  FROM t),
             |h AS (SELECT ('0x' || substring(md5('hll:' || g), 1, 15))
             |    ::BIGINT AS h FROM g),
             |br AS (SELECT h // 4503599627370496 AS b,
             |    h % 4503599627370496 AS w FROM h),
             |r AS (SELECT b, CASE WHEN w = 0 THEN 53
             |    ELSE 53 - length(bin(w)) END AS r FROM br),
             |mx AS (SELECT b, max(r) AS mj FROM r GROUP BY 1),
             |spine AS (SELECT unnest(range(256))::BIGINT AS b),
             |m AS (SELECT spine.b, coalesce(mx.mj, 0) AS m
             |  FROM spine LEFT JOIN mx USING (b)),
             |s AS (SELECT sum(CAST(power(2.0e0, 53 - m) AS BIGINT))
             |    ::BIGINT AS s,
             |    sum(CASE WHEN m = 0 THEN 1 ELSE 0 END)::BIGINT
             |      AS n_empty_buckets FROM m),
             |e0 AS (SELECT n_empty_buckets,
             |    (7.213e-1 / (1.0e0 + 1.079e0 / 2.56e2)) * 6.5536e4
             |      * 9.007199254740992e15 / s::DOUBLE AS raw FROM s),
             |e AS (SELECT n_empty_buckets,
             |    floor(CASE WHEN n_empty_buckets > 0 AND raw <= 6.4e2
             |      THEN 2.56e2 * ln(2.56e2 / n_empty_buckets::DOUBLE)
             |      ELSE raw END)::BIGINT AS hll_estimate FROM e0),
             |n AS (SELECT count(DISTINCT h)::BIGINT AS n_exact FROM h)
             |SELECT n_exact, n_empty_buckets, hll_estimate,
             |  (abs(hll_estimate - n_exact) * 1000000 // nullif(n_exact, 0))
             |    ::BIGINT AS err_ppm
             |FROM n, e""".stripMargin)),

    // Gopher quality-rule battery (Rae et al. 2021, Appendix A) as
    // per-rule pass counts: word count in [50, 1e5], mean word length
    // in [3, 10], ≥80% of words contain a letter, symbol-to-word
    // ratio ('#' chars + '…' spelled '...') ≤ 0.1, and ≥2 of the 8
    // canonical stop words. Every ratio compare is cross-multiplied
    // to EXACT integers (3·nw ≤ Σlen ≤ 10·nw etc.) — no float
    // boundary anywhere. `pass_core` composes the four
    // corpus-agnostic rules; `pass_all` adds the stop-word rule
    // (this synthetic corpus has no English function words, so the
    // split keeps both composites informative). One map-side pass to
    // a single digest row — embarrassingly parallel at any scale.
    QueryDef("text_gopher_rules",
      (s, d) => {
        val stops = GopherStops.map(w =>
          s"(case when array_contains(tk, '$w') then 1 else 0 end)")
          .mkString(" + ")
        val f = graft.sources.Tables.load(s, d, "documents")
          .select(col("text"),
            graft.ext.TextAnalysis.tokens(col("text")).as("tk"))
          .selectExpr(
            "cast(size(tk) as bigint) as nw",
            "aggregate(tk, 0L, (a, w) -> a + length(w)) as total_len",
            "cast(size(filter(tk, w -> w rlike '[a-z]')) as bigint) as n_alpha",
            "cast(length(text) - length(replace(text, '#', '')) as bigint) as n_hash",
            "cast((length(text) - length(replace(text, '...', ''))) div 3 as bigint) as n_ell",
            s"cast($stops as bigint) as stop_hits")
          .selectExpr(
            "case when nw between 50 and 100000 then 1L else 0L end as r_count",
            "case when 3 * nw <= total_len and total_len <= 10 * nw then 1L else 0L end as r_mean",
            "case when 5 * n_alpha >= 4 * nw then 1L else 0L end as r_alpha",
            "case when 10 * (n_hash + n_ell) <= nw then 1L else 0L end as r_symbol",
            "case when stop_hits >= 2 then 1L else 0L end as r_stop")
        f.agg(count(lit(1)).as("n_docs"),
          sum(col("r_count")).as("pass_word_count"),
          sum(col("r_mean")).as("pass_mean_len"),
          sum(col("r_alpha")).as("pass_alpha_ratio"),
          sum(col("r_symbol")).as("pass_symbol_ratio"),
          sum(col("r_stop")).as("pass_stopwords"),
          sum(col("r_count") * col("r_mean") * col("r_alpha")
            * col("r_symbol")).as("pass_core"),
          sum(col("r_count") * col("r_mean") * col("r_alpha")
            * col("r_symbol") * col("r_stop")).as("pass_all"))
      },
      Some(s"""WITH t AS (SELECT text, string_split(lower(text), ' ') AS tk
             |  FROM documents),
             |f AS (SELECT len(tk)::BIGINT AS nw,
             |    list_sum(list_transform(tk, w -> length(w)))::BIGINT
             |      AS total_len,
             |    len(list_filter(tk, w -> regexp_matches(w, '[a-z]')))
             |      ::BIGINT AS n_alpha,
             |    (length(text) - length(replace(text, '#', '')))::BIGINT
             |      AS n_hash,
             |    ((length(text) - length(replace(text, '...', ''))) // 3)
             |      ::BIGINT AS n_ell,
             |    (${GopherStops.map(w =>
                    s"CASE WHEN list_contains(tk, '$w') THEN 1 ELSE 0 END")
                    .mkString("\n|     + ")})::BIGINT AS stop_hits
             |  FROM t),
             |r AS (SELECT
             |    CASE WHEN nw BETWEEN 50 AND 100000 THEN 1 ELSE 0 END
             |      AS r_count,
             |    CASE WHEN 3 * nw <= total_len AND total_len <= 10 * nw
             |      THEN 1 ELSE 0 END AS r_mean,
             |    CASE WHEN 5 * n_alpha >= 4 * nw THEN 1 ELSE 0 END
             |      AS r_alpha,
             |    CASE WHEN 10 * (n_hash + n_ell) <= nw THEN 1 ELSE 0 END
             |      AS r_symbol,
             |    CASE WHEN stop_hits >= 2 THEN 1 ELSE 0 END AS r_stop
             |  FROM f)
             |SELECT count(*)::BIGINT AS n_docs,
             |  sum(r_count)::BIGINT AS pass_word_count,
             |  sum(r_mean)::BIGINT AS pass_mean_len,
             |  sum(r_alpha)::BIGINT AS pass_alpha_ratio,
             |  sum(r_symbol)::BIGINT AS pass_symbol_ratio,
             |  sum(r_stop)::BIGINT AS pass_stopwords,
             |  sum(r_count * r_mean * r_alpha * r_symbol)::BIGINT
             |    AS pass_core,
             |  sum(r_count * r_mean * r_alpha * r_symbol * r_stop)
             |    ::BIGINT AS pass_all
             |FROM r""".stripMargin)),

    // Grubbs' single-outlier test (Grubbs 1950; Stefansky 1972) on
    // the daily event-count series: G = max|x − x̄| / s, flagged
    // against the α=0.05 two-sided critical value
    // ((n−1)/√n)·√(t²/(n−2+t²)) with the t quantile taken at its
    // normal (Acklam-probit) limit — n is calendar-sized here (and
    // at 100 TB), where |t − z| < 1e-3, and BOTH engines evaluate
    // the same shared literal so the flag stays hash-exact.
    // Max deviation is an exact DECIMAL (|n·x − Σx|, argmax tie →
    // later day); the only doubles are the final G/crit divisions.
    // One shuffle to the daily digest; everything after is ≤366 rows.
    QueryDef("q_grubbs_test",
      (s, d) => {
        val zExpr = graft.analytics.Stats.probitSql(
          "1.0e0 - 5.0e-2 / (2.0e0 * cast(n_days as double))")
        val daily = graft.sources.Tables.events(s, d)
          .groupBy(to_date(col("ts")).as("day"))
          .agg(count(lit(1)).as("x"))
        val a = daily.agg(count(lit(1)).as("n_days"),
          sum(col("x")).as("sx"),
          sum(col("x").cast("decimal(38,0)") * col("x")).as("sxx"))
        val dev = daily.crossJoin(broadcast(a))
          .selectExpr("day",
            "abs(cast(n_days as decimal(38,0)) * x - sx) as m")
          .orderBy(col("m").desc, col("day").desc).limit(1)
        dev.crossJoin(broadcast(a))
          .selectExpr("n_days",
            "cast(day as string) as outlier_day",
            """cast(m as double) / (cast(n_days as double)
              |  * sqrt((cast(sxx as double) - cast(sx as double)
              |      * cast(sx as double) / cast(n_days as double))
              |    / (cast(n_days as double) - 1.0e0))) as g_raw"""
              .stripMargin,
            s"$zExpr as z")
          .selectExpr("n_days", "outlier_day",
            "round(g_raw, 6) as g",
            """round(((cast(n_days as double) - 1.0e0)
              |    / sqrt(cast(n_days as double)))
              |  * sqrt(z * z / (cast(n_days as double) - 2.0e0 + z * z)),
              |  6) as g_crit""".stripMargin,
            """case when g_raw > ((cast(n_days as double) - 1.0e0)
              |    / sqrt(cast(n_days as double)))
              |  * sqrt(z * z / (cast(n_days as double) - 2.0e0 + z * z))
              |  then 1L else 0L end as is_outlier""".stripMargin)
      },
      Some(s"""WITH daily AS (SELECT ts::DATE AS day, count(*)::BIGINT AS x
             |  FROM events GROUP BY 1),
             |a AS (SELECT count(*)::BIGINT AS n_days, sum(x)::BIGINT AS sx,
             |    sum((x::DECIMAL(38,0) * x))::DECIMAL(38,0) AS sxx
             |  FROM daily),
             |dev AS (SELECT day::VARCHAR AS day,
             |    abs(a.n_days::DECIMAL(38,0) * x - a.sx)::DECIMAL(38,0) AS m
             |  FROM daily, a ORDER BY m DESC, day DESC LIMIT 1),
             |zc AS (SELECT n_days, sx, sxx,
             |    ${graft.analytics.Stats.probitSql("1.0e0 - 5.0e-2 / (2.0e0 * cast(n_days as double))")} AS z
             |  FROM a),
             |gr AS (SELECT zc.n_days, dev.day AS outlier_day,
             |    dev.m::DOUBLE / (zc.n_days::DOUBLE
             |      * sqrt((zc.sxx::DOUBLE - zc.sx::DOUBLE * zc.sx::DOUBLE
             |          / zc.n_days::DOUBLE)
             |        / (zc.n_days::DOUBLE - 1.0e0))) AS g_raw,
             |    ((zc.n_days::DOUBLE - 1.0e0) / sqrt(zc.n_days::DOUBLE))
             |      * sqrt(zc.z * zc.z
             |        / (zc.n_days::DOUBLE - 2.0e0 + zc.z * zc.z)) AS crit
             |  FROM dev, zc)
             |SELECT n_days, outlier_day, round(g_raw, 6) AS g,
             |  round(crit, 6) AS g_crit,
             |  (CASE WHEN g_raw > crit THEN 1 ELSE 0 END)::BIGINT
             |    AS is_outlier
             |FROM gr""".stripMargin))
  )
}
