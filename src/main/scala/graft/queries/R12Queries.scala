package graft.queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Round-11 session-4 additions: measurement-reliability panel
  * (Cronbach's alpha, one-way ICC + survey design effect, Kendall's W
  * concordance, Gwet's AC1), variance-homogeneity (Bartlett), and the
  * sequential/fold, corpus-richness, and graph batches that follow —
  * each with an exact DuckDB oracle on the repo's integer-grid
  * determinism discipline (milli-quantized value digests, 1e-9
  * quantized log terms summed as DECIMAL, round-6 final doubles,
  * identical double expression trees on both engines).
  *
  * Reference scope: the reference app (reference `app.py:139-200`)
  * reports correlation/describe analytics over sensor channels; this
  * block extends that surface with the reliability/QA statistics a
  * multi-sensor (multi-rater) pipeline publishes about its own
  * channels, all driver-graded.
  */
object R12Queries {

  /** DuckDB mirror of [[graft.ext.Dedup.strHash60]]. */
  private def dkHash60(s: String) = s"('0x'||substring(md5($s),1,15))::BIGINT"

  val defs: Seq[QueryDef] = Seq(

    // Bartlett's test (Bartlett 1937) for variance homogeneity across
    // the 5 event_type channels. One shuffle to a 5-row digest of
    // exact milli-int (n, Σv, Σv²); each group's ln s² is quantized to
    // the 1e-9 grid BEFORE the exact DECIMAL sum (the repo's
    // transcendental-parity rule), so both engines add identical
    // terms. The C correction factor is pure digest algebra. At 100 TB
    // this is one map-side-combined pass to 5 rows.
    QueryDef("q_bartlett_test",
      (s, d) => {
        val g = graft.sources.Tables.events(s, d)
          .select(col("event_type"),
            floor(col("value") * 1000).cast("long").as("vm"))
          .groupBy(col("event_type"))
          .agg(count(lit(1)).as("n"), sum(col("vm")).as("sv"),
            sum(col("vm") * col("vm")).as("qv"))
        // cross-group sums are order-dependent in double: quantize each
        // group's term and sum as exact DECIMAL (repo rule)
        g.agg(count(lit(1)).as("k"), sum(col("n")).as("nt"),
            sum(round(col("qv").cast("double") -
              col("sv").cast("double") * col("sv").cast("double") /
                col("n").cast("double"), 4).cast("decimal(38,4)")).as("ssw"),
            // decimal(20,9) × decimal(10,0) → decimal(31,9): sized so
            // Spark does NOT hit precision-38 overflow (which silently
            // truncates the product's scale to 6)
            sum(round(log((col("qv").cast("double") -
                col("sv").cast("double") * col("sv").cast("double") /
                  col("n").cast("double")) /
              (col("n") - 1).cast("double")), 9)
              .cast("decimal(20,9)") *
              (col("n") - 1).cast("decimal(10,0)")).as("slns"),
            sum(round(lit(1.0) / (col("n") - 1).cast("double"), 12)
              .cast("decimal(38,12)")).as("sinv"))
          .select(col("k"), col("nt").as("n_total"),
            round({
              val dfw = (col("nt") - col("k")).cast("double")
              // ln quantized to the 1e-9 grid: JVM Math.log and libm
              // can differ in the last ulp, and ×dfw amplifies it onto
              // a 6dp rounding knife-edge
              val lnsp = round(log(col("ssw").cast("double") / dfw), 9)
              val c = lit(1.0) +
                (col("sinv").cast("double") - lit(1.0) / dfw) /
                  (lit(3.0) * (col("k") - 1).cast("double"))
              (dfw * lnsp - col("slns").cast("double")) / c
            }, 6).as("bartlett_stat"),
            (col("k") - 1).cast("long").as("df"))
      },
      Some("""WITH g AS (SELECT event_type, count(*)::BIGINT AS n,
             |    sum(floor(value * 1000)::BIGINT)::BIGINT AS sv,
             |    sum(floor(value * 1000)::BIGINT
             |        * floor(value * 1000)::BIGINT)::BIGINT AS qv
             |  FROM events GROUP BY 1),
             |a AS (SELECT count(*)::BIGINT AS k, sum(n)::BIGINT AS nt,
             |    sum(round(qv::DOUBLE - sv::DOUBLE * sv::DOUBLE
             |        / n::DOUBLE, 4)::DECIMAL(38,4)) AS ssw,
             |    sum(round(ln((qv::DOUBLE - sv::DOUBLE * sv::DOUBLE
             |          / n::DOUBLE) / (n - 1)::DOUBLE), 9)::DECIMAL(38,9)
             |        * (n - 1)) AS slns,
             |    sum(round(1.0 / (n - 1)::DOUBLE, 12)::DECIMAL(38,12))
             |      AS sinv
             |  FROM g)
             |SELECT k, nt AS n_total,
             |  round(((nt - k)::DOUBLE
             |      * round(ln(ssw::DOUBLE / (nt - k)::DOUBLE), 9)
             |      - slns::DOUBLE)
             |    / (1.0 + (sinv::DOUBLE - 1.0 / (nt - k)::DOUBLE)
             |        / (3.0 * (k - 1)::DOUBLE)), 6) AS bartlett_stat,
             |  (k - 1)::BIGINT AS df
             |FROM a""".stripMargin)),

    // Cronbach's alpha (Cronbach 1951): internal consistency of the 5
    // event_type channels as "items" scored per user (summed milli
    // value, zero-filled — a user with no 'error' events scores 0 on
    // the error item). All variances come from exact integer digests:
    // the per-item Σx/Σx² pass and the per-user total pass are two
    // map-side-combined shuffles on low-cardinality keys; nothing
    // data-sized crosses the wire. Zero-fill is free in the digests —
    // zeros add nothing to Σx or Σx², only n (the distinct-user count)
    // matters.
    QueryDef("q_cronbach_alpha",
      (s, d) => {
        val e = graft.sources.Tables.events(s, d)
          .select(col("user_id"), col("event_type"),
            floor(col("value") * 1000).cast("long").as("vm"))
        val ui = e.groupBy(col("user_id"), col("event_type"))
          .agg(sum(col("vm")).as("x"))
        val items = ui.groupBy(col("event_type"))
          .agg(sum(col("x")).as("sx"), sum(col("x") * col("x")).as("qx"))
        val users = ui.groupBy(col("user_id")).agg(sum(col("x")).as("t"))
        val tot = users.agg(count(lit(1)).as("n"), sum(col("t")).as("st"),
          sum(col("t").cast("decimal(38,0)") * col("t")).as("qt"))
        items.agg(count(lit(1)).as("kk"),
            sum(col("qx").cast("decimal(38,0)")).cast("double").as("sqx"),
            sum(col("sx").cast("decimal(38,0)") * col("sx"))
              .cast("double").as("ssx2"))
          .crossJoin(broadcast(tot))
          .select(col("n").as("n_users"), col("kk").as("k_items"),
            round({
              val n = col("n").cast("double")
              // Σ item sample variances: Σqx/(n-1) - Σsx²/(n(n-1))
              val svi = (col("sqx") - col("ssx2") / n) / (n - 1)
              val svt = (col("qt").cast("double") -
                col("st").cast("double") * col("st").cast("double") / n) /
                (n - 1)
              col("kk").cast("double") / (col("kk") - 1).cast("double") *
                (lit(1.0) - svi / svt)
            }, 6).as("alpha"))
      },
      Some("""WITH ui AS (SELECT user_id, event_type,
             |    sum(floor(value * 1000)::BIGINT)::BIGINT AS x
             |  FROM events GROUP BY 1, 2),
             |items AS (SELECT event_type, sum(x)::BIGINT AS sx,
             |    sum(x * x)::BIGINT AS qx FROM ui GROUP BY 1),
             |users AS (SELECT user_id, sum(x)::BIGINT AS t
             |  FROM ui GROUP BY 1),
             |tot AS (SELECT count(*)::BIGINT AS n, sum(t)::BIGINT AS st,
             |    sum(t::HUGEINT * t) AS qt FROM users),
             |it AS (SELECT count(*)::BIGINT AS kk,
             |    sum(qx)::DOUBLE AS sqx,
             |    sum(sx::HUGEINT * sx)::DOUBLE AS ssx2 FROM items)
             |SELECT tot.n AS n_users, it.kk AS k_items,
             |  round(kk::DOUBLE / (kk - 1)::DOUBLE * (1.0 -
             |    ((sqx - ssx2 / n::DOUBLE) / (n - 1)::DOUBLE)
             |    / ((qt::DOUBLE - st::DOUBLE * st::DOUBLE / n::DOUBLE)
             |       / (n - 1)::DOUBLE)), 6) AS alpha
             |FROM it, tot""".stripMargin)),

    // One-way random-effects ICC(1,1) (Shrout & Fleiss 1979, unbalanced
    // per Searle 1971) with clusters = users, measurements = their
    // event values, plus the survey design effect DEFF = 1 + (m̄-1)·ICC
    // (Kish 1965) that prices user-clustered sampling of events. Exact
    // per-user (n, Σv, Σv²) digests; SSW/SSB and the unbalanced n0 are
    // digest algebra in identical double trees.
    QueryDef("q_icc_deff",
      (s, d) => {
        val g = graft.sources.Tables.events(s, d)
          .select(col("user_id"),
            floor(col("value") * 1000).cast("long").as("vm"))
          .groupBy(col("user_id"))
          .agg(count(lit(1)).as("n"), sum(col("vm")).as("sv"),
            sum(col("vm") * col("vm")).as("qv"))
        g.agg(count(lit(1)).as("k"), sum(col("n")).as("nt"),
            sum(col("sv")).as("svt"),
            sum(col("qv").cast("decimal(38,0)")).as("qvt"),
            // per-user term quantized to 1e-4 then exact DECIMAL sum —
            // a raw double sum over millions of users is order-dependent
            sum(round(col("sv").cast("double") * col("sv").cast("double") /
              col("n").cast("double"), 4).cast("decimal(38,4)"))
              .cast("double").as("sb"),
            sum(col("n") * col("n")).as("sn2"))
          .select(col("k").as("n_users"), col("nt").as("n_obs"),
            round({
              val nt = col("nt").cast("double")
              val k = col("k").cast("double")
              val ssb = col("sb") -
                col("svt").cast("double") * col("svt").cast("double") / nt
              val ssw = col("qvt").cast("double") - col("sb")
              val msb = ssb / (k - 1)
              val msw = ssw / (nt - k)
              val n0 = (nt - col("sn2").cast("double") / nt) / (k - 1)
              (msb - msw) / (msb + (n0 - lit(1.0)) * msw)
            }, 6).as("icc"),
            round({
              val nt = col("nt").cast("double")
              val k = col("k").cast("double")
              val ssb = col("sb") -
                col("svt").cast("double") * col("svt").cast("double") / nt
              val ssw = col("qvt").cast("double") - col("sb")
              val msb = ssb / (k - 1)
              val msw = ssw / (nt - k)
              val n0 = (nt - col("sn2").cast("double") / nt) / (k - 1)
              val icc = (msb - msw) / (msb + (n0 - lit(1.0)) * msw)
              lit(1.0) + (nt / k - lit(1.0)) * icc
            }, 6).as("deff"))
      },
      Some("""WITH g AS (SELECT user_id, count(*)::BIGINT AS n,
             |    sum(floor(value * 1000)::BIGINT)::BIGINT AS sv,
             |    sum(floor(value * 1000)::BIGINT
             |        * floor(value * 1000)::BIGINT)::BIGINT AS qv
             |  FROM events GROUP BY 1),
             |a AS (SELECT count(*)::BIGINT AS k, sum(n)::BIGINT AS nt,
             |    sum(sv)::BIGINT AS svt, sum(qv) AS qvt,
             |    sum(round(sv::DOUBLE * sv::DOUBLE / n::DOUBLE,
             |      4)::DECIMAL(38,4))::DOUBLE AS sb,
             |    sum(n * n)::BIGINT AS sn2
             |  FROM g)
             |SELECT k AS n_users, nt AS n_obs,
             |  round(((sb - svt::DOUBLE * svt::DOUBLE / nt::DOUBLE)
             |        / (k - 1)::DOUBLE
             |      - (qvt::DOUBLE - sb) / (nt - k)::DOUBLE)
             |    / ((sb - svt::DOUBLE * svt::DOUBLE / nt::DOUBLE)
             |        / (k - 1)::DOUBLE
             |      + ((nt::DOUBLE - sn2::DOUBLE / nt::DOUBLE)
             |          / (k - 1)::DOUBLE - 1.0)
             |        * (qvt::DOUBLE - sb) / (nt - k)::DOUBLE), 6) AS icc,
             |  round(1.0 + (nt::DOUBLE / k::DOUBLE - 1.0) *
             |    (((sb - svt::DOUBLE * svt::DOUBLE / nt::DOUBLE)
             |        / (k - 1)::DOUBLE
             |      - (qvt::DOUBLE - sb) / (nt - k)::DOUBLE)
             |    / ((sb - svt::DOUBLE * svt::DOUBLE / nt::DOUBLE)
             |        / (k - 1)::DOUBLE
             |      + ((nt::DOUBLE - sn2::DOUBLE / nt::DOUBLE)
             |          / (k - 1)::DOUBLE - 1.0)
             |        * (qvt::DOUBLE - sb) / (nt - k)::DOUBLE)), 6) AS deff
             |FROM a""".stripMargin)),

    // Kendall's coefficient of concordance W (Kendall & Babington
    // Smith 1939, tie-corrected) across m = 5 judges (event_type
    // channels) ranking n = calendar days by daily event count,
    // zero-filled onto the shared spine. Midranks are kept EXACT by
    // doubling: 2·midrank = 2·(#below) + t + 1 is an integer, so the
    // spread S and the tie terms T_j stay in BIGINT algebra until the
    // single final division (W = 3·S4 / (m²(n³-n) - m·ΣT)). The only
    // shuffles are the daily digest and a per-judge value-cell rollup.
    QueryDef("q_kendall_w",
      (s, d) => {
        val ev = graft.sources.Tables.events(s, d)
        val daily = ev
          .groupBy(to_date(col("ts")).as("day"), col("event_type"))
          .agg(count(lit(1)).as("c"))
        val spine = ev.agg(min(to_date(col("ts"))).as("d0"),
            max(to_date(col("ts"))).as("d1"))
          .select(explode(expr("sequence(d0, d1)")).as("day"))
        val judges = ev.select(col("event_type")).distinct()
        val grid = spine.crossJoin(broadcast(judges))
          .join(daily, Seq("day", "event_type"), "left")
          .select(col("day"), col("event_type"),
            coalesce(col("c"), lit(0L)).as("c"))
        // per judge, per distinct count value: t (tie size), #below
        val cells = grid.groupBy(col("event_type"), col("c"))
          .agg(count(lit(1)).as("t"))
        val wj = Window.partitionBy(col("event_type")).orderBy(col("c"))
        val ranked = cells
          .withColumn("below",
            coalesce(sum(col("t")).over(
              wj.rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
          .select(col("event_type"), col("c"),
            (col("below") * 2 + col("t") + 1).as("r2"), col("t"))
        val ties = ranked.groupBy(col("event_type"))
          .agg(sum(col("t") * col("t") * col("t") - col("t")).as("tj"))
          .agg(sum(col("tj")).as("st"))
        val di = grid.join(ranked, Seq("event_type", "c"))
          .groupBy(col("day")).agg(sum(col("r2")).as("d2"))
        val nm = di.agg(count(lit(1)).as("n")).crossJoin(
          grid.select(col("event_type")).distinct()
            .agg(count(lit(1)).as("m")))
        di.crossJoin(broadcast(nm))
          .groupBy(col("n"), col("m"))
          .agg(sum((col("d2") - col("m") * (col("n") + 1)) *
            (col("d2") - col("m") * (col("n") + 1))).as("s4"))
          .crossJoin(broadcast(ties))
          .select(col("n").as("n_days"), col("m").as("m_judges"),
            round(lit(3.0) * col("s4").cast("double") /
              (col("m").cast("double") * col("m").cast("double") *
                (col("n").cast("double") * col("n").cast("double") *
                  col("n").cast("double") - col("n").cast("double")) -
                col("m").cast("double") * col("st").cast("double")), 6)
              .as("kendall_w"))
      },
      Some("""WITH sp AS (SELECT min(ts::DATE) AS d0, max(ts::DATE) AS d1
             |  FROM events),
             |spine AS (SELECT unnest(generate_series(sp.d0, sp.d1,
             |    INTERVAL 1 DAY))::DATE AS day FROM sp),
             |judges AS (SELECT DISTINCT event_type FROM events),
             |daily AS (SELECT ts::DATE AS day, event_type,
             |    count(*)::BIGINT AS c FROM events GROUP BY 1, 2),
             |grid AS (SELECT s.day, j.event_type,
             |    coalesce(d.c, 0)::BIGINT AS c
             |  FROM spine s CROSS JOIN judges j
             |  LEFT JOIN daily d ON d.day = s.day
             |    AND d.event_type = j.event_type),
             |cells AS (SELECT event_type, c, count(*)::BIGINT AS t
             |  FROM grid GROUP BY 1, 2),
             |ranked AS (SELECT event_type, c,
             |    (2 * coalesce(sum(t) OVER (PARTITION BY event_type
             |      ORDER BY c ROWS BETWEEN UNBOUNDED PRECEDING
             |      AND 1 PRECEDING), 0) + t + 1)::BIGINT AS r2, t
             |  FROM cells),
             |tiesum AS (SELECT sum(tj)::BIGINT AS st FROM (
             |  SELECT event_type, sum(t * t * t - t)::BIGINT AS tj
             |  FROM ranked GROUP BY 1)),
             |di AS (SELECT g.day, sum(r.r2)::BIGINT AS d2
             |  FROM grid g JOIN ranked r
             |    ON r.event_type = g.event_type AND r.c = g.c
             |  GROUP BY 1),
             |nm AS (SELECT (SELECT count(*) FROM di)::BIGINT AS n,
             |    (SELECT count(*) FROM judges)::BIGINT AS m),
             |s4 AS (SELECT nm.n, nm.m,
             |    sum((d2 - m * (n + 1)) * (d2 - m * (n + 1)))::BIGINT AS s4
             |  FROM di, nm GROUP BY 1, 2)
             |SELECT s4.n AS n_days, s4.m AS m_judges,
             |  round(3.0 * s4::DOUBLE /
             |    (m::DOUBLE * m::DOUBLE *
             |      (n::DOUBLE * n::DOUBLE * n::DOUBLE - n::DOUBLE)
             |     - m::DOUBLE * st::DOUBLE), 6) AS kendall_w
             |FROM s4, tiesum""".stripMargin)),

    // Gwet's AC1 (Gwet 2008) on the same 3 derived binary raters the
    // Fleiss query scores — the chance-agreement model that stays
    // stable when the trait is rare (the kappa paradox). Identical
    // integer digests (n_docs, tot_pos, agree2); only the Pe formula
    // differs: Pe_AC1 = 2π(1-π) with π the mean per-item positive
    // proportion. Reported beside Fleiss for the contrast.
    QueryDef("q_gwet_ac1",
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
        lab.agg(count(lit(1)).as("n_docs"), sum(col("n_pos")).as("tot_pos"),
            sum(col("n_pos") * (col("n_pos") - 1) +
              (lit(3) - col("n_pos")) * (lit(2) - col("n_pos")))
              .as("agree2"))
          .select(col("n_docs"), col("tot_pos"),
            round({
              val pa = col("agree2").cast("double") /
                (col("n_docs") * 6).cast("double")
              val pi = col("tot_pos").cast("double") /
                (col("n_docs") * 3).cast("double")
              val pe = lit(2.0) * pi * (lit(1.0) - pi)
              (pa - pe) / (lit(1.0) - pe)
            }, 6).as("gwet_ac1"),
            round({
              val pa = col("agree2").cast("double") /
                (col("n_docs") * 6).cast("double")
              val pi = col("tot_pos").cast("double") /
                (col("n_docs") * 3).cast("double")
              val pe = lit(1.0) - lit(2.0) * pi * (lit(1.0) - pi)
              (pa - pe) / (lit(1.0) - pe)
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
             |  round((agree2::DOUBLE / (n_docs * 6)::DOUBLE
             |      - 2.0 * (tot_pos::DOUBLE / (n_docs * 3)::DOUBLE)
             |        * (1.0 - tot_pos::DOUBLE / (n_docs * 3)::DOUBLE))
             |    / (1.0 - 2.0 * (tot_pos::DOUBLE / (n_docs * 3)::DOUBLE)
             |        * (1.0 - tot_pos::DOUBLE / (n_docs * 3)::DOUBLE)), 6)
             |    AS gwet_ac1,
             |  round((agree2::DOUBLE / (n_docs * 6)::DOUBLE
             |      - (1.0 - 2.0 * (tot_pos::DOUBLE / (n_docs * 3)::DOUBLE)
             |        * (1.0 - tot_pos::DOUBLE / (n_docs * 3)::DOUBLE)))
             |    / (1.0 - (1.0 - 2.0 * (tot_pos::DOUBLE
             |          / (n_docs * 3)::DOUBLE)
             |        * (1.0 - tot_pos::DOUBLE / (n_docs * 3)::DOUBLE))), 6)
             |    AS fleiss_kappa
             |FROM ag""".stripMargin)),

    // Page-Hinkley sequential change detection (Page 1954; Hinkley
    // 1971) on the daily mean event value: PH_t = m_t - min_{s<=t} m_s
    // with m_t accumulating (x_t - x̄_t - δ); alarm at PH_t > λ. The
    // facts reduce to a ~30-row calendar digest (exact DECIMAL daily
    // sums, one map-side-combined shuffle); the detector is ONE strict
    // sequential fold whose double ops run in identical order on both
    // engines (the q_ewma_smooth precedent), mirrored by a recursive
    // CTE. δ=1, λ=50 in value units.
    QueryDef("q_page_hinkley", {
      val nmt = "(a.mt + (x - (a.cs + x) / (a.n + 1.0D) - 1.0D))"
      (s, d) => {
        graft.sources.Tables.events(s, d)
          .groupBy(to_date(col("ts")).as("day"))
          .agg((sum(col("value").cast("decimal(18,2)")).cast("double") /
            count(lit(1))).as("x"))
          .groupBy()
          .agg(sort_array(collect_list(struct(col("day"), col("x"))))
            .as("sd"))
          .withColumn("xs", expr("transform(sd, e -> e.x)"))
          .withColumn("st", expr(
            "aggregate(xs, named_struct(" +
              "'n', 0.0D, 'cs', 0.0D, 'mt', 0.0D, 'mn', 0.0D, 'al', -1.0D), " +
              s"(a, x) -> named_struct('n', a.n + 1.0D, 'cs', a.cs + x, " +
              s"'mt', $nmt, 'mn', least(a.mn, $nmt), " +
              s"'al', CASE WHEN a.al >= 0.0D THEN a.al " +
              s"WHEN $nmt - least(a.mn, $nmt) > 50.0D THEN a.n + 1.0D " +
              "ELSE -1.0D END))"))
          .select(size(col("xs")).cast("long").as("n_days"),
            round(col("st.mt") - col("st.mn"), 6).as("ph_stat"),
            col("st.al").cast("long").as("alarm_day"))
      }
    }, {
      val nmt = "(it.mt + (y.x - (it.cs + y.x) / (it.k + 1.0) - 1.0))"
      Some(s"""WITH RECURSIVE daily AS (SELECT ts::DATE AS day,
             |    sum(CAST(value AS DECIMAL(18,2)))::DOUBLE / count(*) AS x
             |  FROM events GROUP BY 1),
             |r AS (SELECT x, row_number() OVER (ORDER BY day) AS rn
             |  FROM daily),
             |n AS (SELECT max(rn) AS nd FROM r),
             |it AS (
             |  SELECT 0 AS k, 0.0::DOUBLE AS cs, 0.0::DOUBLE AS mt,
             |      0.0::DOUBLE AS mn, -1.0::DOUBLE AS al
             |  UNION ALL
             |  SELECT it.k + 1, it.cs + y.x,
             |      $nmt, least(it.mn, $nmt),
             |      CASE WHEN it.al >= 0.0 THEN it.al
             |        WHEN $nmt - least(it.mn, $nmt) > 50.0
             |          THEN it.k + 1.0 ELSE -1.0 END
             |    FROM it JOIN r y ON y.rn = it.k + 1)
             |SELECT n.nd::BIGINT AS n_days,
             |  round(it.mt - it.mn, 6) AS ph_stat,
             |  it.al::BIGINT AS alarm_day
             |FROM it, n WHERE it.k = n.nd""".stripMargin)
    }),

    // Local-level Kalman filter (Harvey 1989) on the daily mean value:
    // state noise Q=1, observation noise R=25, diffuse-ish init
    // P0=1e6, l0 = first observation. Reports the filtered level, its
    // steady-state variance, and the innovation RMS — the classic
    // sensor-smoothing kernel the reference's spike filter
    // approximates. Same digest-then-fold shape as q_page_hinkley.
    QueryDef("q_kalman_level", {
      // Pp = P+Q; K = Pp/(Pp+R); l' = l + K(x-l); P' = (1-K)Pp
      val pp = "(a.p + 1.0D)"
      val kk = s"($pp / ($pp + 25.0D))"
      (s, d) => {
        graft.sources.Tables.events(s, d)
          .groupBy(to_date(col("ts")).as("day"))
          .agg((sum(col("value").cast("decimal(18,2)")).cast("double") /
            count(lit(1))).as("x"))
          .groupBy()
          .agg(sort_array(collect_list(struct(col("day"), col("x"))))
            .as("sd"))
          .withColumn("xs", expr("transform(sd, e -> e.x)"))
          .withColumn("st", expr(
            "aggregate(slice(xs, 2, size(xs) - 1), named_struct(" +
              "'l', element_at(xs, 1), 'p', 1000000.0D, 'ss', 0.0D, " +
              "'n', 0.0D), " +
              s"(a, x) -> named_struct(" +
              s"'l', a.l + $kk * (x - a.l), " +
              s"'p', (1.0D - $kk) * $pp, " +
              s"'ss', a.ss + (x - a.l) * (x - a.l), " +
              "'n', a.n + 1.0D))"))
          .select(size(col("xs")).cast("long").as("n_days"),
            round(col("st.l"), 6).as("level_last"),
            round(col("st.p"), 9).as("p_last"),
            round(sqrt(col("st.ss") / col("st.n")), 6)
              .as("innovation_rms"))
      }
    }, {
      val pp = "(it.p + 1.0)"
      val kk = s"($pp / ($pp + 25.0))"
      Some(s"""WITH RECURSIVE daily AS (SELECT ts::DATE AS day,
             |    sum(CAST(value AS DECIMAL(18,2)))::DOUBLE / count(*) AS x
             |  FROM events GROUP BY 1),
             |r AS (SELECT x, row_number() OVER (ORDER BY day) AS rn
             |  FROM daily),
             |n AS (SELECT max(rn) AS nd FROM r),
             |it AS (
             |  SELECT 1 AS k, r.x AS l, 1000000.0::DOUBLE AS p,
             |      0.0::DOUBLE AS ss, 0.0::DOUBLE AS nn
             |    FROM r WHERE rn = 1
             |  UNION ALL
             |  SELECT it.k + 1,
             |      it.l + $kk * (y.x - it.l),
             |      (1.0 - $kk) * $pp,
             |      it.ss + (y.x - it.l) * (y.x - it.l),
             |      it.nn + 1.0
             |    FROM it JOIN r y ON y.rn = it.k + 1)
             |SELECT n.nd::BIGINT AS n_days,
             |  round(it.l, 6) AS level_last,
             |  round(it.p, 9) AS p_last,
             |  round(sqrt(it.ss / it.nn), 6) AS innovation_rms
             |FROM it, n WHERE it.k = n.nd""".stripMargin)
    }),

    // Lag-1 transfer entropy (Schreiber 2000) between the daily view
    // and purchase channels, binarized as up-moves (c_t > c_{t-1}).
    // TE(X→Y) = (1/N) Σ n_abc·ln(n_abc·n_b / (n_bc·n_ab)) over the 8
    // (y_t, y_{t-1}, x_{t-1}) cells — every count is an exact BIGINT,
    // each ln of an integer ratio is quantized to the 1e-9 grid and
    // weighted into a DECIMAL sum (sized decimal(20,9)×decimal(10,0)
    // so Spark's product keeps scale 9). Both directions reported:
    // the asymmetry IS the point (does traffic lead conversions or
    // vice versa). Digest-sized everywhere past the daily rollup.
    QueryDef("q_transfer_entropy",
      (s, d) => {
        val daily = graft.sources.Tables.events(s, d)
          .filter(col("event_type").isin("view", "purchase"))
          .groupBy(to_date(col("ts")).as("day"), col("event_type"))
          .agg(count(lit(1)).as("c"))
          .groupBy(col("day"))
          .pivot("event_type", Seq("view", "purchase"))
          .agg(first(col("c")))
          .select(col("day"), coalesce(col("view"), lit(0L)).as("v"),
            coalesce(col("purchase"), lit(0L)).as("p"))
        val w = Window.orderBy(col("day"))
        val moves = daily
          .withColumn("x", (col("v") > lag(col("v"), 1).over(w)).cast("int"))
          .withColumn("y", (col("p") > lag(col("p"), 1).over(w)).cast("int"))
          .filter(col("x").isNotNull)
          .withColumn("x0", lag(col("x"), 1).over(w))
          .withColumn("y0", lag(col("y"), 1).over(w))
          .filter(col("x0").isNotNull)
          .persist()
        def te(cur: String, hist: String, drv: String) = {
          val cells = moves.groupBy(col(cur).as("a"), col(hist).as("b"),
              col(drv).as("c0"))
            .agg(count(lit(1)).as("nabc"))
          val nb = cells.groupBy(col("b")).agg(sum(col("nabc")).as("nb"))
          val nbc = cells.groupBy(col("b"), col("c0"))
            .agg(sum(col("nabc")).as("nbc"))
          val nab = cells.groupBy(col("a"), col("b"))
            .agg(sum(col("nabc")).as("nab"))
          cells.join(nb, "b").join(nbc, Seq("b", "c0"))
            .join(nab, Seq("a", "b"))
            .agg((sum(round(log(col("nabc").cast("double") *
                col("nb").cast("double") /
                (col("nbc").cast("double") * col("nab").cast("double"))), 9)
              .cast("decimal(20,9)") * col("nabc").cast("decimal(10,0)"))
              .cast("double") / sum(col("nabc")).cast("double")).as("te"))
        }
        val te_xy = te("y", "y0", "x0").select(round(col("te"), 6)
          .as("te_view_to_purchase"))
        val te_yx = te("x", "x0", "y0").select(round(col("te"), 6)
          .as("te_purchase_to_view"))
        val n = moves.agg(count(lit(1)).cast("long").as("n_triples"))
        QueryDef.digest(s, n.crossJoin(te_xy).crossJoin(te_yx), moves)
      },
      Some("""WITH daily AS (SELECT ts::DATE AS day,
             |    count(*) FILTER (event_type = 'view')::BIGINT AS v,
             |    count(*) FILTER (event_type = 'purchase')::BIGINT AS p
             |  FROM events WHERE event_type IN ('view', 'purchase')
             |  GROUP BY 1),
             |mv AS (SELECT day,
             |    (v > lag(v) OVER (ORDER BY day))::INT AS x,
             |    (p > lag(p) OVER (ORDER BY day))::INT AS y
             |  FROM daily),
             |tr AS (SELECT x, y, lag(x) OVER (ORDER BY day) AS x0,
             |    lag(y) OVER (ORDER BY day) AS y0
             |  FROM mv WHERE x IS NOT NULL),
             |t AS (SELECT * FROM tr WHERE x0 IS NOT NULL),
             |cxy AS (SELECT y AS a, y0 AS b, x0 AS c0,
             |    count(*)::BIGINT AS nabc FROM t GROUP BY 1, 2, 3),
             |texy AS (SELECT
             |    sum(round(ln(c.nabc::DOUBLE * nb.nb::DOUBLE
             |        / (nbc.nbc::DOUBLE * nab.nab::DOUBLE)),
             |      9)::DECIMAL(20,9) * c.nabc::DECIMAL(10,0))::DOUBLE
             |      / sum(c.nabc)::DOUBLE AS te
             |  FROM cxy c
             |  JOIN (SELECT b, sum(nabc)::BIGINT AS nb FROM cxy
             |    GROUP BY 1) nb USING (b)
             |  JOIN (SELECT b, c0, sum(nabc)::BIGINT AS nbc FROM cxy
             |    GROUP BY 1, 2) nbc USING (b, c0)
             |  JOIN (SELECT a, b, sum(nabc)::BIGINT AS nab FROM cxy
             |    GROUP BY 1, 2) nab USING (a, b)),
             |cyx AS (SELECT x AS a, x0 AS b, y0 AS c0,
             |    count(*)::BIGINT AS nabc FROM t GROUP BY 1, 2, 3),
             |teyx AS (SELECT
             |    sum(round(ln(c.nabc::DOUBLE * nb.nb::DOUBLE
             |        / (nbc.nbc::DOUBLE * nab.nab::DOUBLE)),
             |      9)::DECIMAL(20,9) * c.nabc::DECIMAL(10,0))::DOUBLE
             |      / sum(c.nabc)::DOUBLE AS te
             |  FROM cyx c
             |  JOIN (SELECT b, sum(nabc)::BIGINT AS nb FROM cyx
             |    GROUP BY 1) nb USING (b)
             |  JOIN (SELECT b, c0, sum(nabc)::BIGINT AS nbc FROM cyx
             |    GROUP BY 1, 2) nbc USING (b, c0)
             |  JOIN (SELECT a, b, sum(nabc)::BIGINT AS nab FROM cyx
             |    GROUP BY 1, 2) nab USING (a, b)),
             |nn AS (SELECT count(*)::BIGINT AS n_triples FROM t)
             |SELECT nn.n_triples,
             |  round(texy.te, 6) AS te_view_to_purchase,
             |  round(teyx.te, 6) AS te_purchase_to_view
             |FROM nn, texy, teyx""".stripMargin)),

    // Wilder's RSI(7) (Wilder 1978) on the daily mean event value:
    // the first 7 deltas seed avg gain/loss by simple mean, then the
    // (6·avg + new)/7 smoothing. One digest shuffle then one strict
    // sequential fold (identical double op order on both engines);
    // overbought/oversold day counts accumulate inside the fold so no
    // per-day rows leave the kernel.
    QueryDef("q_rsi_wilder", {
      // fold-step templates, SPARK side ('a' = state, 'x' = today)
      val g = "greatest(x - a.prev, 0.0D)"
      val l = "greatest(a.prev - x, 0.0D)"
      val nag = s"CASE WHEN a.i < 1.0D THEN 0.0D WHEN a.i < 7.0D THEN a.ag + $g " +
        s"WHEN a.i = 7.0D THEN (a.ag + $g) / 7.0D ELSE (a.ag * 6.0D + $g) / 7.0D END"
      val nal = s"CASE WHEN a.i < 1.0D THEN 0.0D WHEN a.i < 7.0D THEN a.al + $l " +
        s"WHEN a.i = 7.0D THEN (a.al + $l) / 7.0D ELSE (a.al * 6.0D + $l) / 7.0D END"
      val rsi = s"CASE WHEN ($nal) = 0.0D THEN 100.0D " +
        s"ELSE 100.0D - 100.0D / (1.0D + ($nag) / ($nal)) END"
      (s, d) => {
        graft.sources.Tables.events(s, d)
          .groupBy(to_date(col("ts")).as("day"))
          .agg((sum(col("value").cast("decimal(18,2)")).cast("double") /
            count(lit(1))).as("x"))
          .groupBy()
          .agg(sort_array(collect_list(struct(col("day"), col("x"))))
            .as("sd"))
          .withColumn("xs", expr("transform(sd, e -> e.x)"))
          .withColumn("st", expr(
            "aggregate(xs, named_struct('i', 0.0D, 'prev', 0.0D, " +
              "'ag', 0.0D, 'al', 0.0D, 'nob', 0.0D, 'nos', 0.0D), " +
              s"(a, x) -> named_struct('i', a.i + 1.0D, 'prev', x, " +
              s"'ag', $nag, 'al', $nal, " +
              s"'nob', a.nob + CASE WHEN a.i >= 7.0D AND ($rsi) > 70.0D " +
              "THEN 1.0D ELSE 0.0D END, " +
              s"'nos', a.nos + CASE WHEN a.i >= 7.0D AND ($rsi) < 30.0D " +
              "THEN 1.0D ELSE 0.0D END))"))
          .select(size(col("xs")).cast("long").as("n_days"),
            round(when(col("st.al") === 0.0, lit(100.0))
              .otherwise(lit(100.0) - lit(100.0) /
                (lit(1.0) + col("st.ag") / col("st.al"))), 4).as("rsi_last"),
            col("st.nob").cast("long").as("n_overbought"),
            col("st.nos").cast("long").as("n_oversold"))
      }
    }, {
      val g = "greatest(y.x - it.prev, 0.0)"
      val l = "greatest(it.prev - y.x, 0.0)"
      val nag = s"CASE WHEN it.i < 1.0 THEN 0.0 WHEN it.i < 7.0 THEN it.ag + $g " +
        s"WHEN it.i = 7.0 THEN (it.ag + $g) / 7.0 ELSE (it.ag * 6.0 + $g) / 7.0 END"
      val nal = s"CASE WHEN it.i < 1.0 THEN 0.0 WHEN it.i < 7.0 THEN it.al + $l " +
        s"WHEN it.i = 7.0 THEN (it.al + $l) / 7.0 ELSE (it.al * 6.0 + $l) / 7.0 END"
      val rsi = s"CASE WHEN ($nal) = 0.0 THEN 100.0 " +
        s"ELSE 100.0 - 100.0 / (1.0 + ($nag) / ($nal)) END"
      Some(s"""WITH RECURSIVE daily AS (SELECT ts::DATE AS day,
             |    sum(CAST(value AS DECIMAL(18,2)))::DOUBLE / count(*) AS x
             |  FROM events GROUP BY 1),
             |r AS (SELECT x, row_number() OVER (ORDER BY day) AS rn
             |  FROM daily),
             |n AS (SELECT max(rn) AS nd FROM r),
             |it AS (
             |  SELECT 0.0::DOUBLE AS i, 0.0::DOUBLE AS prev,
             |      0.0::DOUBLE AS ag, 0.0::DOUBLE AS al,
             |      0.0::DOUBLE AS nob, 0.0::DOUBLE AS nos
             |  UNION ALL
             |  SELECT it.i + 1.0, y.x, $nag, $nal,
             |      it.nob + CASE WHEN it.i >= 7.0 AND ($rsi) > 70.0
             |        THEN 1.0 ELSE 0.0 END,
             |      it.nos + CASE WHEN it.i >= 7.0 AND ($rsi) < 30.0
             |        THEN 1.0 ELSE 0.0 END
             |    FROM it JOIN r y ON y.rn = it.i::INT + 1)
             |SELECT n.nd::BIGINT AS n_days,
             |  round(CASE WHEN it.al = 0.0 THEN 100.0
             |    ELSE 100.0 - 100.0 / (1.0 + it.ag / it.al) END, 4)
             |    AS rsi_last,
             |  it.nob::BIGINT AS n_overbought,
             |  it.nos::BIGINT AS n_oversold
             |FROM it, n WHERE it.i = n.nd""".stripMargin)
    }),

    // MACD(12,26,9) (Appel 1979) on the daily total event value with
    // bullish-crossover counting folded into the same pass. EMAs
    // initialize at the first observation (the standard convention
    // when no warm-up window exists). Digest → fold, like the RSI.
    QueryDef("q_macd_signal", {
      val e12 = "(a.e12 + (x - a.e12) * 2.0D / 13.0D)"
      val e26 = "(a.e26 + (x - a.e26) * 2.0D / 27.0D)"
      val mac = s"($e12 - $e26)"
      val sig = s"(a.sig + ($mac - a.sig) * 2.0D / 10.0D)"
      val dd = s"($mac - $sig)"
      (s, d) => {
        graft.sources.Tables.events(s, d)
          .groupBy(to_date(col("ts")).as("day"))
          .agg(sum(col("value").cast("decimal(18,2)")).cast("double")
            .as("x"))
          .groupBy()
          .agg(sort_array(collect_list(struct(col("day"), col("x"))))
            .as("sd"))
          .withColumn("xs", expr("transform(sd, e -> e.x)"))
          .withColumn("st", expr(
            "aggregate(slice(xs, 2, size(xs) - 1), named_struct(" +
              "'e12', element_at(xs, 1), 'e26', element_at(xs, 1), " +
              "'sig', 0.0D, 'cross', 0.0D, 'prevd', 0.0D), " +
              s"(a, x) -> named_struct('e12', $e12, 'e26', $e26, " +
              s"'sig', $sig, " +
              s"'cross', a.cross + CASE WHEN a.prevd <= 0.0D AND $dd > 0.0D " +
              "THEN 1.0D ELSE 0.0D END, " +
              s"'prevd', $dd))"))
          .select(size(col("xs")).cast("long").as("n_days"),
            round(col("st.e12") - col("st.e26"), 6).as("macd_last"),
            round(col("st.sig"), 6).as("signal_last"),
            col("st.cross").cast("long").as("n_bullish_cross"))
      }
    }, {
      val e12 = "(it.e12 + (y.x - it.e12) * 2.0 / 13.0)"
      val e26 = "(it.e26 + (y.x - it.e26) * 2.0 / 27.0)"
      val mac = s"($e12 - $e26)"
      val sig = s"(it.sig + ($mac - it.sig) * 2.0 / 10.0)"
      val dd = s"($mac - $sig)"
      Some(s"""WITH RECURSIVE daily AS (SELECT ts::DATE AS day,
             |    sum(CAST(value AS DECIMAL(18,2)))::DOUBLE AS x
             |  FROM events GROUP BY 1),
             |r AS (SELECT x, row_number() OVER (ORDER BY day) AS rn
             |  FROM daily),
             |n AS (SELECT max(rn) AS nd FROM r),
             |it AS (
             |  SELECT 1 AS k, r.x AS e12, r.x AS e26, 0.0::DOUBLE AS sig,
             |      0.0::DOUBLE AS crs, 0.0::DOUBLE AS prevd
             |    FROM r WHERE rn = 1
             |  UNION ALL
             |  SELECT it.k + 1, $e12, $e26, $sig,
             |      it.crs + CASE WHEN it.prevd <= 0.0 AND $dd > 0.0
             |        THEN 1.0 ELSE 0.0 END,
             |      $dd
             |    FROM it JOIN r y ON y.rn = it.k + 1)
             |SELECT n.nd::BIGINT AS n_days,
             |  round(it.e12 - it.e26, 6) AS macd_last,
             |  round(it.sig, 6) AS signal_last,
             |  it.crs::BIGINT AS n_bullish_cross
             |FROM it, n WHERE it.k = n.nd""".stripMargin)
    }),

    // Croston's method + the Syntetos-Boylan approximation (Croston
    // 1972; SBA 2005) for intermittent demand: per-part daily shipped
    // quantity from lineitem (parts ship sporadically — the canonical
    // intermittent series). Demand sizes and inter-demand gaps are
    // SES-smoothed (α=0.1) in one fold per part; forecast = z/p,
    // SBA = (1-α/2)·z/p. Per-part digests shuffle once on l_partkey;
    // each part's fold is O(its demand days) — embarrassingly parallel
    // across millions of parts at 100 TB.
    QueryDef("q_croston_sba", {
      val nz = "(a.z + 0.1D * (e.sz - a.z))"
      val np = "(a.p + 0.1D * (e.gap - a.p))"
      (s, d) => {
        val w = Window.partitionBy(col("l_partkey"))
          .orderBy(col("day"))
        val dem = graft.sources.Tables.load(s, d, "lineitem")
          .filter(col("l_partkey") < 25)
          .groupBy(col("l_partkey"), to_date(col("l_shipdate")).as("day"))
          .agg(sum(col("l_quantity").cast("decimal(18,2)")).cast("double")
            .as("sz"))
          .withColumn("gap",
            datediff(col("day"), lag(col("day"), 1).over(w))
              .cast("double"))
        dem.groupBy(col("l_partkey"))
          .agg(sort_array(collect_list(struct(col("day"),
            col("sz"), col("gap")))).as("sd"))
          .withColumn("st", expr(
            "aggregate(slice(sd, 2, size(sd) - 1), " +
              "named_struct('z', element_at(sd, 1).sz, 'p', 1.0D), " +
              s"(a, e) -> named_struct('z', $nz, 'p', $np))"))
          .select(col("l_partkey"), size(col("sd")).cast("long")
            .as("n_demands"),
            round(col("st.z") / col("st.p"), 6).as("croston_forecast"),
            round(lit(0.95) * col("st.z") / col("st.p"), 6)
              .as("sba_forecast"))
          .orderBy(col("l_partkey"))
      }
    }, {
      val nz = "(it.z + 0.1 * (y.sz - it.z))"
      val np = "(it.p + 0.1 * (y.gap - it.p))"
      Some(s"""WITH RECURSIVE dem AS (SELECT l_partkey,
             |    l_shipdate::DATE AS day,
             |    sum(CAST(l_quantity AS DECIMAL(18,2)))::DOUBLE AS sz
             |  FROM lineitem WHERE l_partkey < 25 GROUP BY 1, 2),
             |r AS (SELECT l_partkey, sz,
             |    datediff('day', lag(day) OVER (PARTITION BY l_partkey
             |      ORDER BY day), day)::DOUBLE AS gap,
             |    row_number() OVER (PARTITION BY l_partkey
             |      ORDER BY day) AS rn
             |  FROM dem),
             |n AS (SELECT l_partkey, max(rn) AS nd FROM r GROUP BY 1),
             |it AS (
             |  SELECT l_partkey, 1 AS k, sz AS z, 1.0::DOUBLE AS p
             |    FROM r WHERE rn = 1
             |  UNION ALL
             |  SELECT it.l_partkey, it.k + 1, $nz, $np
             |    FROM it JOIN r y ON y.l_partkey = it.l_partkey
             |      AND y.rn = it.k + 1)
             |SELECT it.l_partkey, n.nd::BIGINT AS n_demands,
             |  round(it.z / it.p, 6) AS croston_forecast,
             |  round(0.95 * it.z / it.p, 6) AS sba_forecast
             |FROM it JOIN n ON n.l_partkey = it.l_partkey
             |WHERE it.k = n.nd
             |ORDER BY it.l_partkey""".stripMargin)
    }),

    // Chao1 species-richness estimate (Chao 1984, bias-corrected form)
    // of the corpus vocabulary: how many MORE distinct terms a bigger
    // crawl would surface — the curation question behind vocab-growth
    // curves. The frequency spectrum is keyed on 60-bit term hashes
    // (the repo's shuffle-hashes-never-strings rule); everything else
    // is exact integer algebra, one division at the end.
    QueryDef("corpus_chao1_richness",
      (s, d) => {
        val tf = graft.sources.Tables.load(s, d, "documents")
          .select(explode(graft.ext.TextAnalysis.tokens(col("text")))
            .as("term"))
          .filter(col("term") =!= "")
          .groupBy(graft.ext.Dedup.strHash60(col("term")).as("h"))
          .agg(count(lit(1)).as("n"))
        tf.agg(count(lit(1)).as("s_obs"),
            sum(when(col("n") === 1, 1L).otherwise(0L)).as("f1"),
            sum(when(col("n") === 2, 1L).otherwise(0L)).as("f2"))
          .select(col("s_obs"), col("f1"), col("f2"),
            round(col("s_obs").cast("double") +
              col("f1").cast("double") * (col("f1") - 1).cast("double") /
                (lit(2.0) * (col("f2") + 1).cast("double")), 4)
              .as("chao1"))
      },
      Some(s"""WITH tf AS (SELECT ${dkHash60("term")} AS h,
             |    count(*)::BIGINT AS n FROM (
             |    SELECT unnest(string_split(lower(text), ' ')) AS term
             |    FROM documents) WHERE term <> '' GROUP BY 1)
             |SELECT count(*)::BIGINT AS s_obs,
             |  sum(CASE WHEN n = 1 THEN 1 ELSE 0 END)::BIGINT AS f1,
             |  sum(CASE WHEN n = 2 THEN 1 ELSE 0 END)::BIGINT AS f2,
             |  round(count(*)::DOUBLE
             |    + sum(CASE WHEN n = 1 THEN 1 ELSE 0 END)::DOUBLE
             |      * (sum(CASE WHEN n = 1 THEN 1 ELSE 0 END) - 1)::DOUBLE
             |      / (2.0 * (sum(CASE WHEN n = 2 THEN 1 ELSE 0 END)
             |         + 1)::DOUBLE), 4) AS chao1
             |FROM tf""".stripMargin)),

    // Simple Good-Turing head (Good 1953): the unseen-probability mass
    // F1/N and the adjusted counts r* = (r+1)·F_{r+1}/F_r for the low
    // frequency classes — the standard smoothing ingredients a
    // language-model pipeline reports on its corpus. Same hash-keyed
    // spectrum as Chao1; exact integers to one row.
    QueryDef("corpus_good_turing",
      (s, d) => {
        val tf = graft.sources.Tables.load(s, d, "documents")
          .select(explode(graft.ext.TextAnalysis.tokens(col("text")))
            .as("term"))
          .filter(col("term") =!= "")
          .groupBy(graft.ext.Dedup.strHash60(col("term")).as("h"))
          .agg(count(lit(1)).as("n"))
        tf.agg(sum(col("n")).as("n_tokens"),
            sum(when(col("n") === 1, 1L).otherwise(0L)).as("f1"),
            sum(when(col("n") === 2, 1L).otherwise(0L)).as("f2"),
            sum(when(col("n") === 3, 1L).otherwise(0L)).as("f3"),
            sum(when(col("n") === 4, 1L).otherwise(0L)).as("f4"))
          .select(col("n_tokens"), col("f1"), col("f2"), col("f3"),
            round(col("f1").cast("double") / col("n_tokens").cast("double"),
              9).as("p_unseen"),
            when(col("f1") > 0, round(lit(2.0) * col("f2").cast("double") /
              col("f1").cast("double"), 6)).as("r1_star"),
            when(col("f2") > 0, round(lit(3.0) * col("f3").cast("double") /
              col("f2").cast("double"), 6)).as("r2_star"),
            when(col("f3") > 0, round(lit(4.0) * col("f4").cast("double") /
              col("f3").cast("double"), 6)).as("r3_star"))
      },
      Some(s"""WITH tf AS (SELECT ${dkHash60("term")} AS h,
             |    count(*)::BIGINT AS n FROM (
             |    SELECT unnest(string_split(lower(text), ' ')) AS term
             |    FROM documents) WHERE term <> '' GROUP BY 1),
             |sp AS (SELECT sum(n)::BIGINT AS n_tokens,
             |    sum(CASE WHEN n = 1 THEN 1 ELSE 0 END)::BIGINT AS f1,
             |    sum(CASE WHEN n = 2 THEN 1 ELSE 0 END)::BIGINT AS f2,
             |    sum(CASE WHEN n = 3 THEN 1 ELSE 0 END)::BIGINT AS f3,
             |    sum(CASE WHEN n = 4 THEN 1 ELSE 0 END)::BIGINT AS f4
             |  FROM tf)
             |SELECT n_tokens, f1, f2, f3,
             |  round(f1::DOUBLE / n_tokens::DOUBLE, 9) AS p_unseen,
             |  CASE WHEN f1 > 0 THEN round(2.0 * f2::DOUBLE / f1::DOUBLE, 6)
             |    END AS r1_star,
             |  CASE WHEN f2 > 0 THEN round(3.0 * f3::DOUBLE / f2::DOUBLE, 6)
             |    END AS r2_star,
             |  CASE WHEN f3 > 0 THEN round(4.0 * f4::DOUBLE / f3::DOUBLE, 6)
             |    END AS r3_star
             |FROM sp""".stripMargin)),

    // The four classical vocabulary-richness constants (Yule 1944's K,
    // Sichel 1975's S, Honoré 1979's R, Herdan 1960's C) from the same
    // hash-keyed frequency spectrum — the length-robust style/diversity
    // fingerprints stylometry and corpus QA publish. Σr²V_r accumulates
    // in DECIMAL (BIGINT would wrap at web scale); each ln is quantized
    // to the 1e-9 grid before the final round-6/round-4 doubles.
    QueryDef("text_vocab_richness",
      (s, d) => {
        val tf = graft.sources.Tables.load(s, d, "documents")
          .select(explode(graft.ext.TextAnalysis.tokens(col("text")))
            .as("term"))
          .filter(col("term") =!= "")
          .groupBy(graft.ext.Dedup.strHash60(col("term")).as("h"))
          .agg(count(lit(1)).as("n"))
        tf.agg(count(lit(1)).as("v"), sum(col("n")).as("nt"),
            sum(col("n").cast("decimal(19,0)") * col("n")).as("sr2"),
            sum(when(col("n") === 1, 1L).otherwise(0L)).as("v1"),
            sum(when(col("n") === 2, 1L).otherwise(0L)).as("v2"))
          .select(col("v").as("vocab"), col("nt").as("n_tokens"),
            col("v1").as("n_hapax"),
            round(lit(10000.0) *
              (col("sr2").cast("double") - col("nt").cast("double")) /
              (col("nt").cast("double") * col("nt").cast("double")), 6)
              .as("yule_k"),
            round(col("v2").cast("double") / col("v").cast("double"), 6)
              .as("sichel_s"),
            when(col("v1") < col("v"),
              round(lit(100.0) * round(log(col("nt").cast("double")), 9) /
                (lit(1.0) - col("v1").cast("double") /
                  col("v").cast("double")), 4)).as("honore_r"),
            round(round(log(col("v").cast("double")), 9) /
              round(log(col("nt").cast("double")), 9), 6).as("herdan_c"))
      },
      Some(s"""WITH tf AS (SELECT ${dkHash60("term")} AS h,
             |    count(*)::BIGINT AS n FROM (
             |    SELECT unnest(string_split(lower(text), ' ')) AS term
             |    FROM documents) WHERE term <> '' GROUP BY 1),
             |sp AS (SELECT count(*)::BIGINT AS v, sum(n)::BIGINT AS nt,
             |    sum(n::DECIMAL(19,0) * n) AS sr2,
             |    sum(CASE WHEN n = 1 THEN 1 ELSE 0 END)::BIGINT AS v1,
             |    sum(CASE WHEN n = 2 THEN 1 ELSE 0 END)::BIGINT AS v2
             |  FROM tf)
             |SELECT v AS vocab, nt AS n_tokens, v1 AS n_hapax,
             |  round(10000.0 * (sr2::DOUBLE - nt::DOUBLE)
             |    / (nt::DOUBLE * nt::DOUBLE), 6) AS yule_k,
             |  round(v2::DOUBLE / v::DOUBLE, 6) AS sichel_s,
             |  CASE WHEN v1 < v THEN
             |    round(100.0 * round(ln(nt::DOUBLE), 9)
             |      / (1.0 - v1::DOUBLE / v::DOUBLE), 4) END AS honore_r,
             |  round(round(ln(v::DOUBLE), 9) / round(ln(nt::DOUBLE), 9), 6)
             |    AS herdan_c
             |FROM sp""".stripMargin)),

    // Heaps' law fit V = k·N^β (Heaps 1978) over the 10-decile
    // vocabulary growth curve: log-log OLS on exact cumulative
    // (tokens, vocab) counts per doc_id-cutoff decile. The ln points
    // are 1e-9-quantized and their products summed as DECIMAL (10-row
    // cross-sums are still order-sensitive in raw double). β ≈ 0.5
    // means the crawl keeps finding new terms; β → 0 means saturation.
    QueryDef("corpus_heaps_fit",
      (s, d) => {
        val docs = graft.sources.Tables.load(s, d, "documents")
        val toks = docs.select(col("doc_id"),
          explode(graft.ext.TextAnalysis.tokens(col("text"))).as("term"))
          .filter(col("term") =!= "")
        val firstDoc = toks
          .groupBy(graft.ext.Dedup.strHash60(col("term")).as("h"))
          .agg(min(col("doc_id")).as("first_doc"))
        val maxId = docs.agg(max(col("doc_id")).as("mx"))
        val ck = s.range(1, 11).select(col("id").as("decile"))
          .crossJoin(broadcast(maxId))
          .select(col("decile"), expr("(mx + 1) * decile div 10").as("cutoff"))
        val vd = firstDoc.crossJoin(broadcast(ck))
          .groupBy(col("decile"), col("cutoff"))
          .agg(sum(when(col("first_doc") < col("cutoff"), 1L).otherwise(0L))
            .as("vc"))
        val nd = toks.crossJoin(broadcast(ck))
          .groupBy(col("decile"))
          .agg(sum(when(col("doc_id") < col("cutoff"), 1L).otherwise(0L))
            .as("nc"))
        val pts = vd.join(nd, "decile")
          .select(round(log(col("nc").cast("double")), 9).as("x"),
            round(log(col("vc").cast("double")), 9).as("y"))
        pts.agg(count(lit(1)).as("n"),
            sum(col("x").cast("decimal(20,9)")).as("sx"),
            sum(col("y").cast("decimal(20,9)")).as("sy"),
            sum(round(col("x") * col("y"), 9).cast("decimal(20,9)"))
              .as("sxy"),
            sum(round(col("x") * col("x"), 9).cast("decimal(20,9)"))
              .as("sxx"))
          .select(
            round((col("n").cast("double") * col("sxy").cast("double") -
              col("sx").cast("double") * col("sy").cast("double")) /
              (col("n").cast("double") * col("sxx").cast("double") -
                col("sx").cast("double") * col("sx").cast("double")), 6)
              .as("heaps_beta"),
            round(exp(round((col("sy").cast("double") -
              ((col("n").cast("double") * col("sxy").cast("double") -
                col("sx").cast("double") * col("sy").cast("double")) /
                (col("n").cast("double") * col("sxx").cast("double") -
                  col("sx").cast("double") * col("sx").cast("double"))) *
                col("sx").cast("double")) / col("n").cast("double"), 9)), 4)
              .as("heaps_k"))
      },
      Some(s"""WITH toks AS (SELECT doc_id,
             |    unnest(string_split(lower(text), ' ')) AS term
             |  FROM documents),
             |tk AS (SELECT doc_id, term FROM toks WHERE term <> ''),
             |fd AS (SELECT ${dkHash60("term")} AS h,
             |    min(doc_id) AS first_doc FROM tk GROUP BY 1),
             |mx AS (SELECT max(doc_id) AS mx FROM documents),
             |ck AS (SELECT d.range AS decile,
             |    (mx + 1) * d.range // 10 AS cutoff
             |  FROM range(1, 11) d, mx),
             |vd AS (SELECT ck.decile, sum(CASE WHEN fd.first_doc < ck.cutoff
             |      THEN 1 ELSE 0 END)::BIGINT AS vc
             |  FROM fd, ck GROUP BY 1),
             |nd AS (SELECT ck.decile, sum(CASE WHEN tk.doc_id < ck.cutoff
             |      THEN 1 ELSE 0 END)::BIGINT AS nc
             |  FROM tk, ck GROUP BY 1),
             |pts AS (SELECT round(ln(nc::DOUBLE), 9) AS x,
             |    round(ln(vc::DOUBLE), 9) AS y
             |  FROM vd JOIN nd USING (decile)),
             |ag AS (SELECT count(*)::BIGINT AS n,
             |    sum(x::DECIMAL(20,9)) AS sx, sum(y::DECIMAL(20,9)) AS sy,
             |    sum(round(x * y, 9)::DECIMAL(20,9)) AS sxy,
             |    sum(round(x * x, 9)::DECIMAL(20,9)) AS sxx
             |  FROM pts)
             |SELECT
             |  round((n::DOUBLE * sxy::DOUBLE - sx::DOUBLE * sy::DOUBLE)
             |    / (n::DOUBLE * sxx::DOUBLE - sx::DOUBLE * sx::DOUBLE), 6)
             |    AS heaps_beta,
             |  round(exp(round((sy::DOUBLE
             |      - ((n::DOUBLE * sxy::DOUBLE - sx::DOUBLE * sy::DOUBLE)
             |        / (n::DOUBLE * sxx::DOUBLE - sx::DOUBLE * sx::DOUBLE))
             |        * sx::DOUBLE) / n::DOUBLE, 9)), 4) AS heaps_k
             |FROM ag""".stripMargin)),

    // MTLD lexical diversity (McCarthy & Jarvis 2010): walk the token
    // stream keeping a running type/token ratio; every time TTR dips
    // below 0.72 a "factor" completes and the window resets; MTLD =
    // n_tokens / (factors + partial), averaged over the forward and
    // backward passes. The TTR comparison is EXACT (types·100 < 72·t);
    // tokens are 60-bit hashes (capped at 120/doc — the documented
    // bound that keeps the O(n·types) set scan constant-factor). The
    // Spark side is a PURE MAP (one fold per doc, no shuffle at all —
    // the ideal 100 TB shape); the oracle replays both passes as
    // lockstep recursive CTEs over a positioned token table.
    QueryDef("text_mtld", {
      val hash60 = "CAST(conv(substring(md5(t), 1, 15), 16, 10) AS BIGINT)"
      val seen1 = "(CASE WHEN array_contains(a.seen, h) THEN a.seen " +
        "ELSE concat(a.seen, array(h)) END)"
      val complete = s"(size($seen1) * 100 < 72 * (a.t + 1))"
      val fold = "aggregate(%s, named_struct(" +
        "'seen', array()::ARRAY<BIGINT>, 't', 0, 'f', 0), " +
        s"(a, h) -> named_struct(" +
        s"'seen', CASE WHEN $complete THEN array()::ARRAY<BIGINT> " +
        s"ELSE $seen1 END, " +
        s"'t', CASE WHEN $complete THEN 0 ELSE a.t + 1 END, " +
        s"'f', a.f + CASE WHEN $complete THEN 1 ELSE 0 END))"
      // raw (unrounded) per-direction MTLD — the displayed columns
      // round it, but the two-direction average is taken on the RAW
      // values: averaging two 4dp-rounded numbers lands on exact
      // .00005 midpoints where Spark (shortest-decimal HALF_UP) and
      // DuckDB (binary-value rounding) systematically disagree.
      val mtldRaw = "(CASE WHEN %1$s.f + (CASE WHEN %1$s.t > 0 THEN " +
        "(1.0D - size(%1$s.seen) / CAST(%1$s.t AS DOUBLE)) / 0.28D " +
        "ELSE 0.0D END) > 0.0D THEN " +
        "nl / (%1$s.f + (CASE WHEN %1$s.t > 0 THEN " +
        "(1.0D - size(%1$s.seen) / CAST(%1$s.t AS DOUBLE)) / 0.28D " +
        "ELSE 0.0D END)) END)"
      (s, d) => {
        // graded slice doc_id < 1500: the full corpus at the gate SFs,
        // a bounded replay at sf0.1+ — the recursive-CTE oracle costs
        // ~11 ms/doc and must stay inside the 30 s oracle budget (the
        // Spark kernel itself is corpus-wide: a pure per-doc map)
        QueryDef.fanOut(graft.sources.Tables.load(s, d, "documents"))
          .filter(col("doc_id") < 1500)
          .select(col("doc_id"), expr(
            s"slice(transform(filter(split(lower(text), ' '), " +
              s"t -> t <> ''), t -> $hash60), 1, 120)").as("hs"))
          .filter(size(col("hs")) > 0)
          .withColumn("nl", size(col("hs")).cast("double"))
          .withColumn("sf", expr(fold.format("hs")))
          .withColumn("sb", expr(fold.format("reverse(hs)")))
          .withColumn("mf", expr(mtldRaw.format("sf")))
          .withColumn("mb", expr(mtldRaw.format("sb")))
          .select(col("doc_id"), col("nl").cast("long").as("n_tokens"),
            round(col("mf"), 4).as("mtld_fwd"),
            round(col("mb"), 4).as("mtld_bwd"),
            round((col("mf") + col("mb")) / 2.0, 4).as("mtld"))
          .orderBy(col("doc_id"))
      }
    }, {
      val seen1 = "(CASE WHEN list_contains(it.seen, tk.h) THEN it.seen " +
        "ELSE list_append(it.seen, tk.h) END)"
      val complete = s"(len($seen1) * 100 < 72 * (it.t + 1))"
      val partial = "(CASE WHEN %1$s.t > 0 THEN " +
        "(1.0 - len(%1$s.seen) / %1$s.t::DOUBLE) / 0.28 ELSE 0.0 END)"
      val mtldraw = s"(CASE WHEN %1$$s.f + $partial > 0.0 THEN " +
        s"tl.nl::DOUBLE / (%1$$s.f + $partial) END)"
      val mtldexp = s"round(${mtldraw}, 4)"
      Some(s"""WITH RECURSIVE tkl AS (SELECT doc_id,
             |    list_transform(list_filter(string_split(lower(text), ' '),
             |      t -> t <> '')[:120],
             |      t -> ${dkHash60("t")}) AS hs
             |  FROM documents WHERE doc_id < 1500),
             |tl AS (SELECT doc_id, len(hs) AS nl FROM tkl WHERE len(hs) > 0),
             |tk AS (SELECT doc_id, unnest(hs) AS h,
             |    generate_subscripts(hs, 1) AS pos FROM tkl),
             |tkb AS (SELECT tk.doc_id, tk.h, tl.nl - tk.pos + 1 AS pos
             |  FROM tk JOIN tl ON tl.doc_id = tk.doc_id),
             |fw AS (
             |  SELECT doc_id, 0 AS pos, []::BIGINT[] AS seen, 0 AS t, 0 AS f
             |    FROM tl
             |  UNION ALL
             |  SELECT it.doc_id, it.pos + 1,
             |      CASE WHEN $complete THEN []::BIGINT[] ELSE $seen1 END,
             |      CASE WHEN $complete THEN 0 ELSE it.t + 1 END,
             |      it.f + CASE WHEN $complete THEN 1 ELSE 0 END
             |    FROM fw it JOIN tk ON tk.doc_id = it.doc_id
             |      AND tk.pos = it.pos + 1),
             |bw AS (
             |  SELECT doc_id, 0 AS pos, []::BIGINT[] AS seen, 0 AS t, 0 AS f
             |    FROM tl
             |  UNION ALL
             |  SELECT it.doc_id, it.pos + 1,
             |      CASE WHEN $complete THEN []::BIGINT[] ELSE $seen1 END,
             |      CASE WHEN $complete THEN 0 ELSE it.t + 1 END,
             |      it.f + CASE WHEN $complete THEN 1 ELSE 0 END
             |    FROM bw it JOIN tkb tk ON tk.doc_id = it.doc_id
             |      AND tk.pos = it.pos + 1),
             |fend AS (SELECT f.* FROM fw f JOIN tl ON tl.doc_id = f.doc_id
             |  WHERE f.pos = tl.nl),
             |bend AS (SELECT b.* FROM bw b JOIN tl ON tl.doc_id = b.doc_id
             |  WHERE b.pos = tl.nl)
             |SELECT tl.doc_id, tl.nl::BIGINT AS n_tokens,
             |  ${mtldexp.format("fe")} AS mtld_fwd,
             |  ${mtldexp.format("be")} AS mtld_bwd,
             |  round((${mtldraw.format("fe")} + ${mtldraw.format("be")})
             |    / 2.0, 4) AS mtld
             |FROM tl JOIN fend fe ON fe.doc_id = tl.doc_id
             |JOIN bend be ON be.doc_id = tl.doc_id
             |ORDER BY tl.doc_id""".stripMargin)
    }),

    // Directed-graph reciprocity + dyad census (Wasserman & Faust
    // 1994) on the ship-sequence graph: part a → part b when a ships
    // STRICTLY before b inside the same order (ties carry no
    // direction). Reciprocity = share of directed edges that are
    // returned — do fulfilment sequences run one way, or both?
    // Exact set algebra: one distinct, one self-join on the reversed
    // pair, integer counts to one row.
    QueryDef("q_graph_reciprocity",
      (s, d) => {
        // r16 A/B NOTE: the q_copurchase_edges shared-exchange trick
        // (repartition(ok) so the dedup agg and both self-join sides
        // ride one exchange) was tried here and measured NO win —
        // same-window 5-trial medians 3.25 (shared-exchange) vs 3.01
        // (this shape) on a contended window. Unlike copurchase's
        // bare distinct(), this groupBy's partial min(l_shipdate)
        // aggregation earns its own exchange map-side; shipping raw
        // pre-agg rows through hash(ok) gives that benefit back.
        // r17 HotProbe: every exchange here took the session's 8
        // shuffle partitions (12 s CPU squeezed through 8 tasks on a
        // 32-core runtime). The explicit repartitions below REPLACE
        // the planner's exchanges at the same spots with runtime-width
        // ones (hash(ok) co-partitions the self-join; hash(src,dst)
        // feeds the dedup and is the persisted layout the mutual join
        // reuses) — no added shuffle, just width.
        val wid = s.sparkContext.defaultParallelism
        val dp = graft.sources.Tables.load(s, d, "lineitem")
          .groupBy(col("l_orderkey"), col("l_partkey"))
          .agg(min(col("l_shipdate")).as("sd"))
        val de = dp.select(col("l_orderkey"), col("l_partkey").as("src"),
            col("sd").as("sa"))
          .repartition(wid, col("l_orderkey"))
          .join(dp.select(col("l_orderkey").as("ok2"),
            col("l_partkey").as("dst"), col("sd").as("sb"))
            .repartition(wid, col("ok2")),
            col("l_orderkey") === col("ok2") && col("sa") < col("sb"))
          .select(col("src"), col("dst"))
          .repartition(wid, col("src"), col("dst")).distinct().persist()
        val mutual = de.join(de.select(col("src").as("r_dst"),
            col("dst").as("r_src")),
          col("src") === col("r_src") && col("dst") === col("r_dst"))
          .filter(col("src") < col("dst"))
          .agg(count(lit(1)).as("m"))
        QueryDef.digest(s, de.agg(count(lit(1)).as("n_edges"))
          .crossJoin(broadcast(mutual))
          .select(col("n_edges"), col("m").as("n_mutual_dyads"),
            (col("n_edges") - col("m") * 2).as("n_asym_dyads"),
            round(lit(2.0) * col("m").cast("double") /
              col("n_edges").cast("double"), 6).as("reciprocity")), de)
      },
      Some("""WITH dp AS (SELECT l_orderkey, l_partkey,
             |    min(l_shipdate) AS sd
             |  FROM lineitem GROUP BY 1, 2),
             |de AS (SELECT DISTINCT a.l_partkey AS src, b.l_partkey AS dst
             |  FROM dp a JOIN dp b ON a.l_orderkey = b.l_orderkey
             |    AND a.sd < b.sd),
             |m AS (SELECT count(*)::BIGINT AS m FROM de x
             |  JOIN de y ON x.src = y.dst AND x.dst = y.src
             |  WHERE x.src < x.dst),
             |e AS (SELECT count(*)::BIGINT AS n_edges FROM de)
             |SELECT e.n_edges, m.m AS n_mutual_dyads,
             |  (e.n_edges - 2 * m.m)::BIGINT AS n_asym_dyads,
             |  round(2.0 * m.m::DOUBLE / e.n_edges::DOUBLE, 6)
             |    AS reciprocity
             |FROM e, m""".stripMargin)),

    // Harmonic closeness centrality (Marchiori & Latora 2000) of the
    // 5 highest-degree parts in the co-purchase graph, by 6-round
    // multi-source BFS (the documented hop bound; past 6 hops 1/d
    // contributes < 1/6 per node and the ranking is stable). The
    // harmonic sum is kept EXACT as Σ n_d·(60/d) — integer because
    // 60 = lcm(1..6) — so no float accumulates across hop buckets;
    // frontier rounds persist+force like every iterative graph kernel
    // here. Seeds broadcast; each round is one shuffle on node.
    QueryDef("q_closeness_centrality",
      (s, d) => {
        // Frontier-delta BFS (r12): each round's candidates left_anti
        // the ACCUMULATED reach (a union of the per-round frontiers)
        // so only the new frontier materializes — BFS round-order
        // guarantees first-touch = min hop, so this equals the old
        // min-hop re-agg of the whole closure. Each frontier is
        // localCheckpoint'ed (eager): a probe showed the recursive
        // lineage (frontier h references ALL earlier frontiers) costs
        // exponential DRIVER PLANNING time — 18 s at hop 6 on a
        // 22-row frontier — while the checkpointed LogicalRDD leaf
        // keeps every round's plan depth-1 and the data distributed.
        import org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
        // AQE OFF for the fixed-round BFS (the kcore discipline):
        // per-exchange AQE jobs made this 34 driver jobs for 6 rounds.
        // With static planning the frontier and reach sides carry
        // explicit broadcast hints — the side AQE auto-broadcast when
        // it was on (frontier/reach are reachable-node-sized; at
        // 100 TB they outgrow a broadcast and this becomes the
        // co-partitioned join AQE would pick dynamically).
        QueryDef.withConf(s, "spark.sql.adaptive.enabled" -> "false") {
        val e = s.read.parquet(SqlQueries.copurchaseEdgesOf(s, d))
        val eb = e.select(col("p1").as("src"), col("p2").as("dst"))
          .unionAll(e.select(col("p2").as("src"), col("p1").as("dst")))
          .persist(MEMORY_AND_DISK)
        try {
        val seeds = eb.groupBy(col("src").as("seed"))
          .agg(count(lit(1)).as("deg"))
          .orderBy(col("deg").desc, col("seed")).limit(5)
          .select(col("seed"))
        val frontiers =
          scala.collection.mutable.ArrayBuffer.empty[
            org.apache.spark.sql.DataFrame]
        var frontier = seeds.select(col("seed"), col("seed").as("node"),
          lit(0).as("hop")).localCheckpoint()
        frontiers += frontier
        for (h <- 1 to 6) {
          val reachKeys = frontiers.map(_.select(col("seed"), col("node")))
            .reduce(_ unionAll _)
          frontier = broadcast(frontier).join(eb, col("node") === col("src"))
            .select(col("seed"), col("dst").as("node"), lit(h).as("hop"))
            .distinct()
            .join(broadcast(reachKeys), Seq("seed", "node"), "left_anti")
            .localCheckpoint()
          frontiers += frontier
        }
        val res = frontiers.reduce(_ unionAll _)
          .filter(col("hop") > 0)
          .groupBy(col("seed"))
          .agg(count(lit(1)).as("n_reached"),
            sum(expr("60 div hop")).as("h60"))
          .select(col("seed"), col("n_reached"), col("h60"),
            round(col("h60").cast("double") / 60.0, 6).as("harmonic"))
          .orderBy(col("seed"))
        QueryDef.digest(s, res)
        } finally try eb.unpersist() catch { case _: Throwable => () }
        }
      }, {
      val hops = (1 to 6).map { h =>
        s"""h$h AS MATERIALIZED (SELECT DISTINCT r.seed, eb.dst AS node
           |  FROM h${h - 1} r JOIN eb ON eb.src = r.node)""".stripMargin
      }.mkString(",\n")
      val lv = (1 to 6).map(h => s"SELECT seed, node, $h AS hop FROM h$h")
        .mkString("\n  UNION ALL ")
      Some(s"""WITH pp AS MATERIALIZED (SELECT DISTINCT l_orderkey,
             |    l_partkey FROM lineitem),
             |e0 AS MATERIALIZED (SELECT a.l_partkey AS p1,
             |    b.l_partkey AS p2
             |  FROM pp a JOIN pp b ON a.l_orderkey = b.l_orderkey
             |    AND a.l_partkey < b.l_partkey
             |  GROUP BY 1, 2 HAVING count(*) >= 2),
             |eb AS MATERIALIZED (SELECT p1 AS src, p2 AS dst FROM e0
             |  UNION ALL SELECT p2, p1 FROM e0),
             |sd AS (SELECT src AS seed, count(*) AS deg FROM eb
             |  GROUP BY 1 ORDER BY deg DESC, seed LIMIT 5),
             |h0 AS (SELECT seed, seed AS node FROM sd),
             |$hops,
             |lv AS (SELECT seed, node, 0 AS hop FROM h0
             |  UNION ALL $lv),
             |mh AS (SELECT seed, node, min(hop) AS hop FROM lv
             |  GROUP BY 1, 2)
             |SELECT seed, count(*)::BIGINT AS n_reached,
             |  sum(60 // hop)::BIGINT AS h60,
             |  round(sum(60 // hop)::DOUBLE / 60.0, 6) AS harmonic
             |FROM mh WHERE hop > 0 GROUP BY seed
             |ORDER BY seed""".stripMargin)
    }),

    // k-core robustness profile (Seidman 1983): the k = 2, 3, 4 cores
    // of the co-purchase graph, each by the repo's bounded 5-round
    // peel (the q_kcore3 discipline — persist + force every round,
    // identical round count replayed by the oracle's generated CTE
    // chain). The profile curve (how fast the core collapses as k
    // grows) is the one-look robustness summary.
    QueryDef("q_kcore_profile",
      (s, d) => {
        // Chained peels (r12): cores are NESTED — the (k+1)-core is a
        // subgraph of the k-core — so k=3's 5-round peel seeds from
        // the k=2 result and k=4's from k=3, instead of each k
        // re-peeling the full edge set (15 full-width rounds → 5 full
        // + 10 on the already-collapsed cores). The oracle's CTE
        // ladder chains identically (e3_0 = e2_5, e4_0 = e3_5).
        // DEFINITION NOTE (r13): the chained 5-round peel is this
        // query's published semantics, NOT always the true k-core —
        // at sf0.1 the k=2 peel measurably does NOT reach fixpoint
        // within 5 rounds, so k=3/k=4 seed from a partially-peeled
        // graph and the profile differs from independent unbounded
        // peels. Both engines chain identically so the gate compares
        // the same quantity; pre-r12 artifacts (independent peels)
        // are not comparable for this query. A per-round count()
        // fixpoint probe was tried and rejected: +3 s exclusive
        // (6.7 s vs 3.8 s at sf0.1) — the barrier actions cost more
        // than any skipped tail round saves. Kept SEQUENTIAL per-k:
        // the round-11 fused-by-k variant measured 1.7× slower (3×
        // data through every round). The 3-row profile is collected
        // so every per-round cache releases.
        import org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
        // AQE OFF for the peel: a fixed-round
        // iterative kernel gains nothing from runtime re-planning —
        // both join sides are edge-sized (SMJ either way) and the
        // partition count is already right-sized — but AQE turns
        // every exchange into its own driver job (58 jobs for 15
        // rounds, a pure scheduling floor that the 10× sweep's
        // cpu_ratio 1.76 proved is overhead, not data work). One job
        // per eager action instead.
        QueryDef.withConf(s, "spark.sql.adaptive.enabled" -> "false") {
        // every persist() registers here so a mid-peel failure can't
        // leak MEMORY_AND_DISK blocks into the long-lived bench
        // session — the finally releases whatever is still cached
        val live = scala.collection.mutable.ArrayBuffer.empty[
          org.apache.spark.sql.DataFrame]
        try {
        val e0 = s.read.parquet(SqlQueries.copurchaseEdgesOf(s, d))
          .select(col("p1"), col("p2")).persist(MEMORY_AND_DISK)
        live += e0
        var seed = e0
        val profs = Seq.newBuilder[org.apache.spark.sql.DataFrame]
        for (k <- 2 to 4) {
          // rounds persist LAZILY (no count barriers): each e_r is
          // referenced 3× by round r+1 (deg digest + both keep-join
          // sides) but the InMemoryRelation shares one cached RDD, so
          // the ONE eager action per k — the localCheckpoint below —
          // computes every round's shuffle exactly once. 2 jobs per k
          // instead of 7. (An early-exit variant with a count()
          // barrier per round was MEASURED 1.5× slower — 6.7 s vs
          // 4.3 s exclusive at sf0.1 — the per-round actions cost
          // more than the skipped tail rounds save.)
          val kept =
            scala.collection.mutable.ArrayBuffer.empty[
              org.apache.spark.sql.DataFrame]
          var e = seed
          for (_ <- 1 to 5) {
            val deg = e.select(explode(array(col("p1"), col("p2")))
              .as("node"))
              .groupBy(col("node")).agg(count(lit(1)).as("deg"))
            val keep = deg.filter(col("deg") >= k).select(col("node"))
            e = e.join(keep.select(col("node").as("ka")),
                col("p1") === col("ka")).drop("ka")
              .join(keep.select(col("node").as("kb")),
                col("p2") === col("kb")).drop("kb")
              .persist(MEMORY_AND_DISK)
            kept += e
            live += e
          }
          // each round's plan references e THREE times, so a 15-round
          // chained lineage is a 3^15-node tree — Spark's per-action
          // explain-string render alone OOMs the driver. localCheckpoint
          // (eager) truncates the k-core to a LogicalRDD leaf so each
          // k's peel starts from a depth-0 plan.
          // r17 NEGATIVE RESULT (kept for the record): a symmetric-edge
          // rewrite (eb = both orientations, hash(src)-invariant, one
          // SMJ exchange per round instead of broadcast keeps) measured
          // 9.5 s / 5.5 s CPU vs this form's 2.1 s / 0.5 s CPU at
          // sf0.1/32c — THIS shape never shuffles e at all (the deg
          // explode-agg partial-aggregates map-side and only the tiny
          // node digest crosses; the keep joins broadcast), so each
          // round pipelines into ~one stage over the cached edges.
          val core = e.localCheckpoint()
          kept.foreach(_.unpersist())
          // profile stays LAZY: all three k's profiles union into ONE
          // collect below (the cores are already checkpointed leaves,
          // so no peel recomputes) — one job instead of three
          profs += core.select(explode(array(col("p1"), col("p2")))
              .as("node"))
            .groupBy(col("node")).agg(count(lit(1)).as("deg"))
            .agg(lit(k.toLong).as("k"),
              count(lit(1)).as("core_nodes"),
              coalesce((sum(col("deg")) / 2).cast("long"), lit(0L))
                .as("core_edges"))
          seed = core
        }
        QueryDef.digest(s, profs.result().reduce(_ unionAll _))
        } finally {
          // idempotent: per-k `kept` frames are already unpersisted on
          // the success path; this releases e0 plus anything a
          // mid-peel failure left cached
          live.foreach(df => try df.unpersist() catch { case _: Throwable => () })
        }
        }
      }, {
      def chain(k: Int) = (1 to 5).map { r =>
        s"""d${k}_$r AS MATERIALIZED (SELECT node, count(*) AS deg FROM (
           |  SELECT p1 AS node FROM e${k}_${r - 1}
           |  UNION ALL SELECT p2 FROM e${k}_${r - 1}) GROUP BY 1),
           |e${k}_$r AS MATERIALIZED (SELECT p1, p2 FROM e${k}_${r - 1}
           |  JOIN d${k}_$r a ON a.node = p1 AND a.deg >= $k
           |  JOIN d${k}_$r b ON b.node = p2 AND b.deg >= $k)""".stripMargin
      }.mkString(",\n")
      val finals = (2 to 4).map { k =>
        s"""SELECT $k::BIGINT AS k, count(*)::BIGINT AS core_nodes,
           |  coalesce((sum(deg) / 2)::BIGINT, 0) AS core_edges
           |FROM (SELECT node, count(*) AS deg FROM (
           |  SELECT p1 AS node FROM e${k}_5
           |  UNION ALL SELECT p2 FROM e${k}_5) GROUP BY 1)""".stripMargin
      }.mkString("\n  UNION ALL ")
      Some(s"""WITH pp AS MATERIALIZED (SELECT DISTINCT l_orderkey,
             |    l_partkey FROM lineitem),
             |ebase AS MATERIALIZED (SELECT a.l_partkey AS p1,
             |    b.l_partkey AS p2
             |  FROM pp a JOIN pp b ON a.l_orderkey = b.l_orderkey
             |    AND a.l_partkey < b.l_partkey
             |  GROUP BY 1, 2 HAVING count(*) >= 2),
             |e2_0 AS (SELECT * FROM ebase),
             |${chain(2)},
             |e3_0 AS (SELECT * FROM e2_5),
             |${chain(3)},
             |e4_0 AS (SELECT * FROM e3_5),
             |${chain(4)}
             |SELECT * FROM ($finals) ORDER BY k""".stripMargin)
    }),

    // Daily Apdex (Apdex Alliance 2004) on the view→purchase latency:
    // satisfied ≤ 30 min, tolerating ≤ 2 h. Latency comes from the
    // last-qualifying-view running-max window (one shuffle on
    // user_id, the q_view_purchase_latency pattern); the score is
    // published EXACT as ppm — (2·sat + tol)·500000 div n — so the
    // gate compares integers, no float at all.
    QueryDef("q_apdex_score",
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
          .withColumn("lat_us", unix_micros(col("ts")) - col("lv"))
          .groupBy(to_date(col("ts")).as("day"))
          .agg(count(lit(1)).as("n_samples"),
            sum(when(col("lat_us") <= 1800000000L, 1L).otherwise(0L))
              .as("n_satisfied"),
            sum(when(col("lat_us") > 1800000000L &&
              col("lat_us") <= 7200000000L, 1L).otherwise(0L))
              .as("n_tolerating"))
          .select(col("day").cast("string").as("day"), col("n_samples"),
            col("n_satisfied"),
            col("n_tolerating"),
            expr("(2 * n_satisfied + n_tolerating) * 500000 div n_samples")
              .as("apdex_ppm"))
          .orderBy(col("day"))
      },
      Some("""WITH f AS (SELECT user_id, event_id, event_type, ts,
             |    epoch_us(ts) AS us FROM events
             |  WHERE event_type IN ('view', 'purchase')),
             |l AS (SELECT event_type, ts, us,
             |    max(CASE WHEN event_type = 'view' THEN us END)
             |      OVER (PARTITION BY user_id ORDER BY ts, event_id
             |        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
             |      AS lv
             |  FROM f),
             |p AS (SELECT ts::DATE AS day, us - lv AS lat_us FROM l
             |  WHERE event_type = 'purchase' AND lv IS NOT NULL)
             |SELECT day::VARCHAR AS day, count(*)::BIGINT AS n_samples,
             |  sum(CASE WHEN lat_us <= 1800000000 THEN 1 ELSE 0 END)::BIGINT
             |    AS n_satisfied,
             |  sum(CASE WHEN lat_us > 1800000000 AND lat_us <= 7200000000
             |    THEN 1 ELSE 0 END)::BIGINT AS n_tolerating,
             |  ((2 * sum(CASE WHEN lat_us <= 1800000000 THEN 1 ELSE 0 END)
             |    + sum(CASE WHEN lat_us > 1800000000
             |        AND lat_us <= 7200000000 THEN 1 ELSE 0 END))
             |    * 500000 // count(*))::BIGINT AS apdex_ppm
             |FROM p GROUP BY day ORDER BY day""".stripMargin)),

    // User-perceived MTTR / MTBF: an 'error' event opens an incident
    // for that user; the user's next non-error event closes it (time
    // to repair), and gaps between a user's consecutive errors are
    // the times between failures. Per-user windows (one shuffle on
    // user_id, never a global sort); exact microsecond sums to a
    // one-row summary.
    QueryDef("q_mttr_mtbf",
      (s, d) => {
        val w = Window.partitionBy(col("user_id"))
          .orderBy(col("ts"), col("event_id"))
        val ev = graft.sources.Tables.events(s, d)
          .select(col("user_id"), col("event_id"), col("ts"),
            col("event_type"), unix_micros(col("ts")).as("us"))
        val rec = ev
          .withColumn("nxt",
            min(when(col("event_type") =!= "error", col("us")))
              .over(w.rowsBetween(1, Window.unboundedFollowing)))
          .filter(col("event_type") === "error" && col("nxt").isNotNull)
          .agg(count(lit(1)).as("n_incidents"),
            sum(col("nxt") - col("us")).as("ttr_us"))
        val gaps = ev.filter(col("event_type") === "error")
          .withColumn("prev", lag(col("us"), 1).over(w))
          .filter(col("prev").isNotNull)
          .agg(count(lit(1)).as("n_gaps"),
            sum(col("us") - col("prev")).as("gap_us"))
        rec.crossJoin(broadcast(gaps))
          .select(col("n_incidents"),
            round(col("ttr_us").cast("double") /
              col("n_incidents").cast("double") / 1e6, 4)
              .as("mttr_seconds"),
            col("n_gaps"),
            round(col("gap_us").cast("double") /
              col("n_gaps").cast("double") / 6e7, 4).as("mtbf_minutes"))
      },
      Some("""WITH ev AS (SELECT user_id, event_id, ts, event_type,
             |    epoch_us(ts) AS us FROM events),
             |r AS (SELECT event_type,
             |    min(CASE WHEN event_type <> 'error' THEN us END)
             |      OVER (PARTITION BY user_id ORDER BY ts, event_id
             |        ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING)
             |      AS nxt, us
             |  FROM ev),
             |rec AS (SELECT count(*)::BIGINT AS n_incidents,
             |    sum(nxt - us)::BIGINT AS ttr_us FROM r
             |  WHERE event_type = 'error' AND nxt IS NOT NULL),
             |g AS (SELECT us, lag(us) OVER (PARTITION BY user_id
             |      ORDER BY ts, event_id) AS prev
             |  FROM ev WHERE event_type = 'error'),
             |gaps AS (SELECT count(*)::BIGINT AS n_gaps,
             |    sum(us - prev)::BIGINT AS gap_us FROM g
             |  WHERE prev IS NOT NULL)
             |SELECT rec.n_incidents,
             |  round(rec.ttr_us::DOUBLE / rec.n_incidents::DOUBLE / 1e6, 4)
             |    AS mttr_seconds,
             |  gaps.n_gaps,
             |  round(gaps.gap_us::DOUBLE / gaps.n_gaps::DOUBLE / 6e7, 4)
             |    AS mtbf_minutes
             |FROM rec, gaps""".stripMargin)),

    // Sliced 1-Wasserstein distance (Rabin et al. 2011) between the
    // even- and odd-id halves of the embedding corpus: project onto 8
    // md5-seeded integer directions, pair the sorted projections by
    // rank, and average |ΔF⁻¹|. Every projection is an EXACT BIGINT
    // (x1000 z-grid · milli-int direction), so the per-direction
    // global sort is on integers and W1 is an exact integer sum until
    // one final /1e6. At 100 TB each direction is one narrow
    // distributed sort of a scalar — the TeraSort shape — and the 8
    // sorts share a single scan.
    QueryDef("emb_sliced_wasserstein",
      (s, d) => {
        val dirs = s.range(0, 8).select(col("id").cast("int").as("k"))
          .withColumn("j", explode(expr("sequence(0, 63)")))
          .withColumn("um",
            pmod(graft.ext.Dedup.strHash60(
              concat(lit("swd:"), col("k"), lit(":"), col("j"))),
              lit(2001L)) - 1000L)
          .groupBy(col("k"))
          .agg(expr("transform(array_sort(collect_list(struct(j, um))), " +
            "e -> e.um)").as("ums"))
        val proj = graft.sources.Tables.load(s, d, "embeddings")
          .select(col("vec_id"), expr("transform(embedding, " +
            "x -> CAST(round(CAST(x AS DOUBLE) * 1000) AS BIGINT))")
            .as("z"))
          .crossJoin(broadcast(dirs))
          .select(col("k"), col("vec_id"), (col("vec_id") % 2).as("par"),
            expr("aggregate(zip_with(z, ums, (a, b) -> a * b), 0L, " +
              "(acc, v) -> acc + v)").as("p"))
        val w = Window.partitionBy(col("k"), col("par"))
          .orderBy(col("p"), col("vec_id"))
        val ranked = proj.withColumn("rn", row_number().over(w))
        ranked.filter(col("par") === 0)
          .select(col("k"), col("rn"), col("p").as("pa"))
          .join(ranked.filter(col("par") === 1)
            .select(col("k"), col("rn"), col("p").as("pb")),
            Seq("k", "rn"))
          .groupBy(col("k"))
          .agg(count(lit(1)).as("n_pairs"),
            sum(abs(col("pa") - col("pb"))).as("sw"))
          .select(col("k"), col("n_pairs"),
            round(col("sw").cast("double") /
              col("n_pairs").cast("double") / 1e6, 6).as("w1"))
          .orderBy(col("k"))
      },
      Some(s"""WITH dirs AS (SELECT k.range AS k, j.range AS j,
             |    (${dkHash60("'swd:' || k.range || ':' || j.range")}
             |      % 2001) - 1000 AS um
             |  FROM range(0, 8) k, range(0, 64) j),
             |zv AS (SELECT vec_id, vec_id % 2 AS par,
             |    list_transform(embedding,
             |      x -> CAST(round(x::DOUBLE * 1000) AS BIGINT)) AS z
             |  FROM embeddings),
             |proj AS (SELECT d.k, v.vec_id, v.par,
             |    sum(v.z[d.j + 1] * d.um)::BIGINT AS p
             |  FROM zv v JOIN dirs d ON TRUE
             |  GROUP BY 1, 2, 3),
             |rk AS (SELECT k, par, p, row_number() OVER (
             |    PARTITION BY k, par ORDER BY p, vec_id) AS rn
             |  FROM proj)
             |SELECT a.k, count(*)::BIGINT AS n_pairs,
             |  round(sum(abs(a.p - b.p))::DOUBLE / count(*)::DOUBLE
             |    / 1e6, 6) AS w1
             |FROM rk a JOIN rk b ON b.k = a.k AND b.rn = a.rn
             |  AND a.par = 0 AND b.par = 1
             |GROUP BY a.k ORDER BY a.k""".stripMargin)),

    // Grid-based DBSCAN (Ester et al. 1996, cell-quantized variant):
    // quantize the first two embedding dims onto a 0.5-unit grid,
    // mark cells with ≥ 5 points as core, and cluster core cells by
    // 8-neighborhood connectivity using the repo's distributed
    // path-halving connected components (converges by digest-sized
    // action, never by bounded rounds — a 20×20 grid has diameter
    // ~40 and a fixed-round peel would be wrong). Floor division via
    // the pmod guard: `div` truncation would fold cells -1 and 0
    // together at the origin.
    QueryDef("q_dbscan_grid",
      (s, d) => {
        // r16: AQE OFF for the bounded loop. The
        // connected-components loop runs over the CORE-CELL graph,
        // whose size is bounded by the fixed quantization grid (≤
        // 200×200 cells) at ANY data scale — so static planning is
        // scale-correct here, and AQE's one-driver-job-per-exchange
        // scheduling was the floor: 31 jobs / 1.66 s exclusive median
        // -> see commit.
        // r17 (VERDICT item 7): the toggle is now SCOPED — the one
        // data-sized stage (points → cell counts) materializes via an
        // eager localCheckpoint BEFORE AQE is disabled, so a skewed
        // hot cell at 100 TB still gets AQE's runtime coalescing/skew
        // handling; only the grid-bounded component loop runs static.
        def fld(c: org.apache.spark.sql.Column) =
          ((c - pmod(c, lit(500L))) / 500L).cast("long")
        val pts = graft.sources.Tables.load(s, d, "embeddings")
          .select(col("vec_id"),
            expr("CAST(round(CAST(embedding[0] AS DOUBLE) * 1000) " +
              "AS BIGINT)").as("z0"),
            expr("CAST(round(CAST(embedding[1] AS DOUBLE) * 1000) " +
              "AS BIGINT)").as("z1"))
          .select(col("vec_id"), fld(col("z0")).as("cx"),
            fld(col("z1")).as("cy"))
        // eager + AQE-planned: the data-sized aggregate happens HERE
        // (localCheckpoint caches the ≤200×200 digest; no persist
        // needed on top)
        val cells = pts.groupBy(col("cx"), col("cy"))
          .agg(count(lit(1)).as("npts")).localCheckpoint()
        QueryDef.withConf(s, "spark.sql.adaptive.enabled" -> "false") {
        val cores = cells.filter(col("npts") >= 5)
          .withColumn("cid", (col("cx") + 100) * 1000 + col("cy") + 100)
          .persist()
        val offs = s.range(0, 9).select(
          (col("id") % 3 - 1).as("dx"), (col("id") / 3 - 1).cast("long").as("dy"))
        val pairs = cores.crossJoin(broadcast(offs))
          .select(col("cid").as("id_a"),
            ((col("cx") + col("dx") + 100) * 1000 +
              (col("cy") + col("dy") + 100)).as("id_b"))
          .join(cores.select(col("cid").as("id_b")), "id_b")
        val labels = graft.ext.Dedup.connectedComponents(pairs)
        val clus = cores.join(labels, cores("cid") === labels("id"))
          .groupBy(col("group_id")).agg(sum(col("npts")).as("cpts"))
          .persist()
        val tot = pts.agg(count(lit(1)).as("n_points"))
        val corest = cores.agg(count(lit(1)).as("n_core_cells"),
          sum(col("npts")).as("n_core_points"))
        QueryDef.digest(s, clus
          .agg(count(lit(1)).as("n_clusters"),
            max(col("cpts")).as("largest_cluster_points"))
          .crossJoin(broadcast(corest)).crossJoin(broadcast(tot))
          .select(col("n_core_cells"), col("n_clusters"),
            col("n_core_points"),
            (col("n_points") - col("n_core_points")).as("n_noise_points"),
            // labels: connectedComponents returns its final round
            // PERSISTED — r17 CacheAudit caught it surviving the query
            col("largest_cluster_points")), cells, cores, clus, labels)
        }
      },
      Some("""WITH RECURSIVE pts AS (SELECT vec_id,
             |    CAST(round(embedding[1]::DOUBLE * 1000) AS BIGINT) AS z0,
             |    CAST(round(embedding[2]::DOUBLE * 1000) AS BIGINT) AS z1
             |  FROM embeddings),
             |cl AS (SELECT vec_id,
             |    (z0 - ((z0 % 500 + 500) % 500)) // 500 AS cx,
             |    (z1 - ((z1 % 500 + 500) % 500)) // 500 AS cy
             |  FROM pts),
             |cells AS (SELECT cx, cy, count(*)::BIGINT AS npts
             |  FROM cl GROUP BY 1, 2),
             |cores AS (SELECT cx, cy, npts,
             |    (cx + 100) * 1000 + cy + 100 AS cid FROM cells
             |  WHERE npts >= 5),
             |edges AS (SELECT a.cid AS src, b.cid AS dst
             |  FROM cores a JOIN cores b
             |    ON abs(a.cx - b.cx) <= 1 AND abs(a.cy - b.cy) <= 1),
             |cc AS (
             |  SELECT cid AS id, cid AS label FROM cores
             |  UNION
             |  SELECT e.dst AS id, cc.label
             |    FROM cc JOIN edges e ON e.src = cc.id),
             |lab AS (SELECT id, min(label) AS group_id FROM cc GROUP BY 1),
             |clus AS (SELECT lab.group_id, sum(c.npts)::BIGINT AS cpts
             |  FROM cores c JOIN lab ON lab.id = c.cid GROUP BY 1),
             |tot AS (SELECT count(*)::BIGINT AS n_points FROM cl),
             |cst AS (SELECT count(*)::BIGINT AS n_core_cells,
             |    sum(npts)::BIGINT AS n_core_points FROM cores)
             |SELECT cst.n_core_cells,
             |  (SELECT count(*) FROM clus)::BIGINT AS n_clusters,
             |  cst.n_core_points,
             |  (tot.n_points - cst.n_core_points)::BIGINT AS n_noise_points,
             |  (SELECT max(cpts) FROM clus)::BIGINT
             |    AS largest_cluster_points
             |FROM cst, tot""".stripMargin)),

    // Local outlier factor (Breunig et al. 2000), k = 10, on the
    // z-grid embeddings — the density-relative outlier score that
    // catches points normal in global distance but isolated in their
    // local neighborhood. Distances are sqrt of exact integer d²
    // (IEEE sqrt is correctly rounded → engine-identical), quantized
    // to 6dp; reach-dist sums and lrd sums accumulate as exact
    // DECIMAL. Graded slice vec_id < 500 (the documented capped
    // all-pairs baseline discipline — the scale path is LSH-bucketed
    // kNN, measured separately by sim_recall_ann).
    QueryDef("q_lof_outliers",
      (s, d) => {
        // squared distance via the norm identity d² = |a|² + |b|² − 2a·b:
        // the per-vector norms compute ONCE on 500 rows, and the
        // per-pair term rides the codegen'd native DotProduct kernel —
        // the old zip_with+aggregate lambda pair evaluated INTERPRETED
        // per element on all 250k pairs (measured as this query owning
        // the bench's slowest slot at 4.0 s). Exactness holds: z
        // elements are milli-quantized (|z| ≲ 3k), so every product and
        // the 64-term sum sit far below 2^53 — the double dot is
        // integer-exact and the long cast loses nothing.
        val z = graft.sources.Tables.load(s, d, "embeddings")
          .filter(col("vec_id") < 500)
          .select(col("vec_id"), expr("transform(embedding, " +
            "x -> CAST(round(CAST(x AS DOUBLE) * 1000) AS BIGINT))")
            .as("z"))
          .withColumn("n2", expr(
            "aggregate(z, 0L, (acc, v) -> acc + v * v)"))
        val pd = z.select(col("vec_id").as("a"), col("z").as("za"),
            col("n2").as("na"))
          .join(z.select(col("vec_id").as("b"), col("z").as("zb"),
            col("n2").as("nb")),
            col("a") =!= col("b"))
          .select(col("a"), col("b"),
            (col("na") + col("nb") -
              (lit(2.0) * graft.functions.VectorFunctions.vec_dot(s,
                col("za"), col("zb"))).cast("long")).as("d2"))
        val w = Window.partitionBy(col("a")).orderBy(col("d2"), col("b"))
        val knn = pd.withColumn("rn", row_number().over(w))
          .filter(col("rn") <= 10).persist()
        val kd = knn.filter(col("rn") === 10)
          .select(col("a"), round(sqrt(col("d2").cast("double")), 6)
            .as("kdist"))
        val reach = knn.join(kd.select(col("a").as("b"),
            col("kdist").as("kdist_b")), "b")
          .select(col("a"),
            greatest(col("kdist_b"),
              round(sqrt(col("d2").cast("double")), 6)).as("rd"))
        val lrd = reach.groupBy(col("a"))
          .agg(sum(col("rd").cast("decimal(28,6)")).as("srd"))
          .filter(col("srd") > 0)
          .select(col("a"),
            round(lit(10.0) / col("srd").cast("double"), 9).as("lrd"))
        val lof = knn.join(lrd.select(col("a").as("b"),
            col("lrd").as("lrd_b")), "b")
          .groupBy(col("a"))
          .agg(sum(col("lrd_b").cast("decimal(28,9)")).as("slb"))
          .join(lrd, "a")
          .select(col("a").as("vec_id"),
            round(col("slb").cast("double") / 10.0 / col("lrd"), 6)
              .as("lof"))
        QueryDef.digest(s, lof
          .join(kd.select(col("a").as("vec_id"), col("kdist")), "vec_id")
          .select(col("vec_id"), col("kdist"), col("lof"))
          .orderBy(col("lof").desc, col("vec_id")).limit(20), knn)
      },
      Some("""WITH z AS (SELECT vec_id, list_transform(embedding,
             |    x -> CAST(round(x::DOUBLE * 1000) AS BIGINT)) AS z
             |  FROM embeddings WHERE vec_id < 500),
             |pd AS (SELECT a.vec_id AS a, b.vec_id AS b,
             |    list_sum(list_transform(range(1, 65),
             |      i -> (a.z[i] - b.z[i]) * (a.z[i] - b.z[i])))::BIGINT
             |      AS d2
             |  FROM z a JOIN z b ON a.vec_id <> b.vec_id),
             |knn AS (SELECT * FROM (SELECT a, b, d2, row_number() OVER (
             |    PARTITION BY a ORDER BY d2, b) AS rn FROM pd)
             |  WHERE rn <= 10),
             |kd AS (SELECT a, round(sqrt(d2::DOUBLE), 6) AS kdist
             |  FROM knn WHERE rn = 10),
             |reach AS (SELECT k.a,
             |    greatest(kb.kdist, round(sqrt(k.d2::DOUBLE), 6)) AS rd
             |  FROM knn k JOIN kd kb ON kb.a = k.b),
             |lrd AS (SELECT a, round(10.0 / sum(rd::DECIMAL(28,6))::DOUBLE,
             |    9) AS lrd
             |  FROM reach GROUP BY a
             |  HAVING sum(rd::DECIMAL(28,6)) > 0),
             |lof AS (SELECT k.a AS vec_id,
             |    round(sum(lb.lrd::DECIMAL(28,9))::DOUBLE / 10.0
             |      / la.lrd, 6) AS lof
             |  FROM knn k JOIN lrd lb ON lb.a = k.b
             |  JOIN lrd la ON la.a = k.a
             |  GROUP BY k.a, la.lrd)
             |SELECT l.vec_id, kd.kdist, l.lof
             |FROM lof l JOIN kd ON kd.a = l.vec_id
             |ORDER BY l.lof DESC, l.vec_id LIMIT 20""".stripMargin)),

    // Sharp regression discontinuity (Thistlethwaite & Campbell 1960):
    // does crossing 10 lifetime views jump a user's purchase count?
    // Local linear fits on both sides of the cutoff (bandwidth ±8),
    // effect = right-limit − left-limit at c. Running variable and
    // outcome are exact integers, so both OLS fits are closed forms
    // over exact BIGINT sums — zero float until the final projection.
    QueryDef("q_rdd_cutoff",
      (s, d) => {
        val u = graft.sources.Tables.events(s, d)
          .groupBy(col("user_id"))
          .agg(sum(when(col("event_type") === "view", 1L).otherwise(0L))
            .as("x"),
            sum(when(col("event_type") === "purchase", 1L).otherwise(0L))
              .as("y"))
          .filter(col("x") >= 2 && col("x") < 18)
          .withColumn("side", when(col("x") < 10, "L").otherwise("R"))
        val fits = u.groupBy(col("side"))
          .agg(count(lit(1)).as("n"), sum(col("x")).as("sx"),
            sum(col("y")).as("sy"), sum(col("x") * col("y")).as("sxy"),
            sum(col("x") * col("x")).as("sxx"))
          .withColumn("den", col("n") * col("sxx") - col("sx") * col("sx"))
          .withColumn("b", (col("n") * col("sxy") - col("sx") * col("sy"))
            .cast("double") / col("den").cast("double"))
          .withColumn("a", (col("sy").cast("double") -
            col("b") * col("sx").cast("double")) / col("n").cast("double"))
          .withColumn("fit_c", col("a") + col("b") * 10.0)
        val l = fits.filter(col("side") === "L")
          .select(col("n").as("n_left"), col("fit_c").as("fl"))
        val r = fits.filter(col("side") === "R")
          .select(col("n").as("n_right"), col("fit_c").as("fr"))
        l.crossJoin(r).select(col("n_left"), col("n_right"),
          round(col("fl"), 6).as("left_fit_at_c"),
          round(col("fr"), 6).as("right_fit_at_c"),
          round(col("fr") - col("fl"), 6).as("rdd_effect"))
      },
      Some("""WITH u AS (SELECT user_id,
             |    sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END)
             |      ::BIGINT AS x,
             |    sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
             |      ::BIGINT AS y
             |  FROM events GROUP BY 1),
             |w AS (SELECT *, CASE WHEN x < 10 THEN 'L' ELSE 'R' END
             |    AS side FROM u WHERE x >= 2 AND x < 18),
             |f AS (SELECT side, count(*)::BIGINT AS n, sum(x)::BIGINT AS sx,
             |    sum(y)::BIGINT AS sy, sum(x * y)::BIGINT AS sxy,
             |    sum(x * x)::BIGINT AS sxx
             |  FROM w GROUP BY 1),
             |p AS (SELECT side, n,
             |    (sy::DOUBLE - ((n * sxy - sx * sy)::DOUBLE
             |      / (n * sxx - sx * sx)::DOUBLE) * sx::DOUBLE)
             |      / n::DOUBLE
             |    + ((n * sxy - sx * sy)::DOUBLE
             |      / (n * sxx - sx * sx)::DOUBLE) * 10.0 AS fit_c
             |  FROM f)
             |SELECT l.n AS n_left, r.n AS n_right,
             |  round(l.fit_c, 6) AS left_fit_at_c,
             |  round(r.fit_c, 6) AS right_fit_at_c,
             |  round(r.fit_c - l.fit_c, 6) AS rdd_effect
             |FROM (SELECT * FROM p WHERE side = 'L') l,
             |  (SELECT * FROM p WHERE side = 'R') r""".stripMargin)),

    // Exact paired sign-flip permutation test (Fisher 1935) on the
    // daily view-vs-purchase revenue totals: 200 md5-derived ±1
    // patterns replayed identically in both engines. Everything is
    // integer — milli totals, |Σ±d_t|, and the p-value published as
    // exact ppm of (1 + #{T_b ≥ T_obs}) / (B + 1) — so the gate
    // compares BIGINTs only. The digest is ~30 rows; the 200×30
    // pattern join is broadcast-sized at any fact scale.
    QueryDef("q_permutation_test",
      (s, d) => {
        val daily = graft.sources.Tables.events(s, d)
          .filter(col("event_type").isin("view", "purchase"))
          .groupBy(to_date(col("ts")).as("day"))
          .agg((sum(when(col("event_type") === "view",
            floor(col("value") * 1000).cast("long")).otherwise(0L)) -
            sum(when(col("event_type") === "purchase",
              floor(col("value") * 1000).cast("long")).otherwise(0L)))
            .as("dm")).persist()
        val tobs = daily.agg(abs(sum(col("dm"))).as("t_obs"),
          count(lit(1)).as("n_days"))
        val perms = s.range(1, 201).select(col("id").as("b"))
        val tb = daily.crossJoin(broadcast(perms))
          .select(col("b"), (col("dm") * (pmod(graft.ext.Dedup.strHash60(
            concat(lit("perm:"), col("b"), lit(":"), col("day"))),
            lit(2L)) * 2 - 1)).as("sd"))
          .groupBy(col("b")).agg(abs(sum(col("sd"))).as("t_b"))
        QueryDef.digest(s, tb.crossJoin(broadcast(tobs))
          .agg(max(col("t_obs")).as("t_obs_milli"),
            max(col("n_days")).as("n_days"),
            count(lit(1)).as("n_perms"),
            sum(when(col("t_b") >= col("t_obs"), 1L).otherwise(0L))
              .as("n_ge"))
          .select(col("t_obs_milli"), col("n_days"), col("n_perms"),
            expr("(1 + n_ge) * 1000000 div (n_perms + 1)").as("p_ppm")),
          daily)
      },
      Some(s"""WITH daily AS (SELECT ts::DATE AS day,
             |    (sum(CASE WHEN event_type = 'view'
             |        THEN floor(value * 1000)::BIGINT ELSE 0 END)
             |     - sum(CASE WHEN event_type = 'purchase'
             |        THEN floor(value * 1000)::BIGINT ELSE 0 END))::BIGINT
             |      AS dm
             |  FROM events WHERE event_type IN ('view', 'purchase')
             |  GROUP BY 1),
             |obs AS (SELECT abs(sum(dm))::BIGINT AS t_obs,
             |    count(*)::BIGINT AS n_days FROM daily),
             |tb AS (SELECT p.range AS b,
             |    abs(sum(d.dm * ((${dkHash60("'perm:' || p.range || ':' || d.day")}
             |      % 2) * 2 - 1)))::BIGINT AS t_b
             |  FROM daily d, range(1, 201) p GROUP BY 1)
             |SELECT obs.t_obs AS t_obs_milli, obs.n_days,
             |  count(*)::BIGINT AS n_perms,
             |  ((1 + sum(CASE WHEN tb.t_b >= obs.t_obs THEN 1 ELSE 0 END))
             |    * 1000000 // (count(*) + 1))::BIGINT AS p_ppm
             |FROM tb, obs GROUP BY obs.t_obs, obs.n_days""".stripMargin)),

    // TOST equivalence test (Schuirmann 1987): are the view and click
    // channels' mean values equivalent within ±5 units? Two one-sided
    // Welch z statistics from exact milli digests; equivalent iff both
    // clear the α=.05 critical value. The complement of q_welch_ttest
    // — absence of evidence ≠ evidence of equivalence.
    QueryDef("q_tost_equivalence",
      (s, d) => {
        val g = graft.sources.Tables.events(s, d)
          .filter(col("event_type").isin("view", "click"))
          .select(col("event_type"),
            floor(col("value") * 1000).cast("long").as("vm"))
          .groupBy(col("event_type"))
          .agg(count(lit(1)).as("n"), sum(col("vm")).as("sv"),
            sum(col("vm") * col("vm")).as("qv"))
        val a = g.filter(col("event_type") === "view")
          .select(col("n").as("na"), col("sv").as("sa"), col("qv").as("qa"))
        val b = g.filter(col("event_type") === "click")
          .select(col("n").as("nb"), col("sv").as("sb"), col("qv").as("qb"))
        a.crossJoin(b)
          .withColumn("ma", col("sa").cast("double") / col("na"))
          .withColumn("mb", col("sb").cast("double") / col("nb"))
          .withColumn("va", (col("qa").cast("double") -
            col("sa").cast("double") * col("sa").cast("double") /
              col("na").cast("double")) / (col("na").cast("double") - 1.0))
          .withColumn("vb", (col("qb").cast("double") -
            col("sb").cast("double") * col("sb").cast("double") /
              col("nb").cast("double")) / (col("nb").cast("double") - 1.0))
          .withColumn("se", sqrt(col("va") / col("na") + col("vb") / col("nb")))
          .withColumn("dm", (col("ma") - col("mb")) / 1000.0)
          .withColumn("sem", col("se") / 1000.0)
          .withColumn("tl", (col("dm") + 5.0) / col("sem"))
          .withColumn("tu", (col("dm") - 5.0) / col("sem"))
          .select(round(col("dm"), 6).as("mean_diff"),
            round(col("sem"), 6).as("se"),
            round(col("tl"), 4).as("t_lower"),
            round(col("tu"), 4).as("t_upper"),
            when(col("tl") > 1.644854 && col("tu") < -1.644854, 1L)
              .otherwise(0L).as("equivalent"))
      },
      Some("""WITH g AS (SELECT event_type, count(*)::BIGINT AS n,
             |    sum(floor(value * 1000)::BIGINT)::BIGINT AS sv,
             |    sum(floor(value * 1000)::BIGINT
             |      * floor(value * 1000)::BIGINT)::BIGINT AS qv
             |  FROM events WHERE event_type IN ('view', 'click')
             |  GROUP BY 1),
             |ab AS (SELECT
             |    (SELECT sv::DOUBLE / n FROM g WHERE event_type = 'view')
             |      AS ma,
             |    (SELECT sv::DOUBLE / n FROM g WHERE event_type = 'click')
             |      AS mb,
             |    (SELECT (qv::DOUBLE - sv::DOUBLE * sv::DOUBLE / n::DOUBLE)
             |      / (n::DOUBLE - 1.0) / n FROM g
             |      WHERE event_type = 'view') AS vna,
             |    (SELECT (qv::DOUBLE - sv::DOUBLE * sv::DOUBLE / n::DOUBLE)
             |      / (n::DOUBLE - 1.0) / n FROM g
             |      WHERE event_type = 'click') AS vnb),
             |x AS (SELECT (ma - mb) / 1000.0 AS dm,
             |    sqrt(vna + vnb) / 1000.0 AS sem FROM ab)
             |SELECT round(dm, 6) AS mean_diff, round(sem, 6) AS se,
             |  round((dm + 5.0) / sem, 4) AS t_lower,
             |  round((dm - 5.0) / sem, 4) AS t_upper,
             |  CASE WHEN (dm + 5.0) / sem > 1.644854
             |    AND (dm - 5.0) / sem < -1.644854 THEN 1 ELSE 0
             |    END::BIGINT AS equivalent
             |FROM x""".stripMargin)),

    // Holm step-down and Benjamini-Yekutieli multiple-testing control
    // over the 10 channel-pair Welch z tests — the family-wise and
    // under-dependence FDR companions to q_fdr_bh. p-values via the
    // repo's Zelen-Severo Φ polynomial on 6dp-rounded z; the step-down
    // running max / BY harmonic factor run on the 10-row digest.
    QueryDef("q_holm_by",
      (s, d) => {
        val g = graft.sources.Tables.events(s, d)
          .select(col("event_type"),
            floor(col("value") * 1000).cast("long").as("vm"))
          .groupBy(col("event_type"))
          .agg(count(lit(1)).as("n"), sum(col("vm")).as("sv"),
            sum(col("vm") * col("vm")).as("qv"))
          .withColumn("m", col("sv").cast("double") / col("n"))
          .withColumn("vn", (col("qv").cast("double") -
            col("sv").cast("double") * col("sv").cast("double") /
              col("n").cast("double")) /
            (col("n").cast("double") - 1.0) / col("n").cast("double"))
        val pairs = g.select(col("event_type").as("g_a"), col("m").as("ma"),
            col("vn").as("va"))
          .join(g.select(col("event_type").as("g_b"), col("m").as("mb"),
            col("vn").as("vb")), col("g_a") < col("g_b"))
          .withColumn("z", round(abs(col("ma") - col("mb")) /
            sqrt(col("va") + col("vb")), 6))
          .withColumn("tv", lit(1.0) / (lit(1.0) + lit(0.2316419) * col("z")))
          .withColumn("pdf",
            exp(col("z") * col("z") * lit(-0.5)) / lit(2.5066282746310002))
          .withColumn("p", round(lit(2.0) * col("pdf") *
            (((((lit(1.330274429) * col("tv") - lit(1.821255978)) * col("tv") +
              lit(1.781477937)) * col("tv") - lit(0.356563782)) * col("tv") +
              lit(0.319381530)) * col("tv")), 9))
        val wr = Window.orderBy(col("p"), col("g_a"), col("g_b"))
        val m10 = pairs.agg(count(lit(1)).as("mm"))
        val ranked = pairs.withColumn("rank", row_number().over(wr))
          .crossJoin(broadcast(m10))
          .withColumn("p_holm_raw",
            least(lit(1.0), (col("mm") - col("rank") + 1).cast("double") *
              col("p")))
          .withColumn("p_holm", round(max(col("p_holm_raw")).over(
            Window.orderBy(col("rank"))
              .rowsBetween(Window.unboundedPreceding, 0)), 9))
          // c(m) = Σ 1/i as exact milli-ppm: quantized decimal sum
          .withColumn("cm", lit((1 to 10).map(1.0 / _).map(x =>
            BigDecimal(x).setScale(12, BigDecimal.RoundingMode.HALF_UP))
            .sum.toDouble))
          .withColumn("rej_by", when(col("p") <=
            col("rank").cast("double") * lit(0.05) /
              (col("mm").cast("double") * col("cm")), 1L).otherwise(0L))
        ranked.select(col("g_a"), col("g_b"), col("z"), col("p"),
            col("rank"), col("p_holm"),
            when(col("p_holm") <= 0.05, 1L).otherwise(0L).as("rej_holm"),
            col("rej_by"))
          .orderBy(col("rank"))
      },
      Some({
        val cm = (1 to 10).map(1.0 / _).map(x =>
          BigDecimal(x).setScale(12, BigDecimal.RoundingMode.HALF_UP))
          .sum.toDouble
        s"""WITH g AS (SELECT event_type, count(*)::BIGINT AS n,
           |    sum(floor(value * 1000)::BIGINT)::BIGINT AS sv,
           |    sum(floor(value * 1000)::BIGINT
           |      * floor(value * 1000)::BIGINT)::BIGINT AS qv
           |  FROM events GROUP BY 1),
           |gg AS (SELECT event_type, sv::DOUBLE / n AS m,
           |    (qv::DOUBLE - sv::DOUBLE * sv::DOUBLE / n::DOUBLE)
           |      / (n::DOUBLE - 1.0) / n::DOUBLE AS vn
           |  FROM g),
           |pr AS (SELECT a.event_type AS g_a, b.event_type AS g_b,
           |    round(abs(a.m - b.m) / sqrt(a.vn + b.vn), 6) AS z
           |  FROM gg a JOIN gg b ON a.event_type < b.event_type),
           |pv AS (SELECT g_a, g_b, z,
           |    round(2.0 * (exp(z * z * -0.5) / 2.5066282746310002) *
           |      (((((1.330274429 * (1.0 / (1.0 + 0.2316419 * z))
           |        - 1.821255978) * (1.0 / (1.0 + 0.2316419 * z))
           |        + 1.781477937) * (1.0 / (1.0 + 0.2316419 * z))
           |        - 0.356563782) * (1.0 / (1.0 + 0.2316419 * z))
           |        + 0.319381530) * (1.0 / (1.0 + 0.2316419 * z))), 9)
           |      AS p
           |  FROM pr),
           |rk AS (SELECT *, row_number() OVER (ORDER BY p, g_a, g_b)
           |      AS rank, count(*) OVER () AS mm
           |  FROM pv),
           |hm AS (SELECT *, round(max(least(1.0,
           |      (mm - rank + 1)::DOUBLE * p)) OVER (ORDER BY rank
           |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 9)
           |      AS p_holm
           |  FROM rk)
           |SELECT g_a, g_b, z, p, rank::BIGINT AS rank, p_holm,
           |  CASE WHEN p_holm <= 0.05 THEN 1 ELSE 0 END::BIGINT
           |    AS rej_holm,
           |  CASE WHEN p <= rank::DOUBLE * 0.05 / (mm::DOUBLE * $cm)
           |    THEN 1 ELSE 0 END::BIGINT AS rej_by
           |FROM hm ORDER BY rank""".stripMargin
      })),

    // Exact Bayesian A/B (Beta-Binomial, uniform priors): users md5-
    // hashed into variants, conversion = a big-ticket purchase
    // (value > 180 — "any purchase" saturates at 100% with ~67
    // events/user); P(p_B > p_A) by
    // the closed-form sum Σᵢ B(a_A+i, b_A+b_B) / ((b_B+i)·B(1+i,b_B)·
    // B(a_A,b_A)) (Cook 2005). ln-factorials come from one cumulative
    // window over 1e-12-quantized ln j (exact DECIMAL — order-free);
    // each term exponentiates an exact-decimal log and is 1e-15-
    // quantized before the final exact sum, so cross-engine libm ulps
    // move P by ≤ a few quanta — invisible at round 6. Exact at
    // digest scale; the billion-user path is q_abtest_ztest's normal
    // approximation.
    QueryDef("q_bayes_ab",
      (s, d) => {
        val conv = graft.sources.Tables.events(s, d)
          .groupBy(col("user_id"))
          .agg(max(when(col("event_type") === "purchase" &&
            col("value") > 180, 1L).otherwise(0L)).as("c"))
          .withColumn("v", pmod(graft.ext.Dedup.strHash60(
            concat(lit("ab:"), col("user_id"))), lit(2L)))
          .groupBy(col("v"))
          .agg(count(lit(1)).as("n"), sum(col("c")).as("cv"))
        val pa = conv.filter(col("v") === 0)
          .select(col("n").as("n_a"), col("cv").as("conv_a"))
        val pb = conv.filter(col("v") === 1)
          .select(col("n").as("n_b"), col("cv").as("conv_b"))
        val par = pa.crossJoin(pb)
          .withColumn("aa", col("conv_a") + 1)
          .withColumn("ba", col("n_a") - col("conv_a") + 1)
          .withColumn("ab", col("conv_b") + 1)
          .withColumn("bb", col("n_b") - col("conv_b") + 1)
        // r17 window audit: the log-factorial table's cumulative sum is
        // USER-COUNT-proportional (j ranges to n_a+n_b+2) — distributed
        // prefix sum replaces the unpartitioned window (exact decimal
        // on both paths)
        val lf = graft.analytics.Ranks.withRunningSum(
            s.range(0, 1 << 20).select(col("id").as("j"))
              .crossJoin(broadcast(par.select(
                (col("aa") + col("ab") + col("ba") + col("bb")).as("mx"))))
              .filter(col("j") <= col("mx"))
              .withColumn("lnj", when(col("j") <= 1, lit(BigDecimal(0))
                .cast("decimal(38,12)"))
                .otherwise(round(log(col("j").cast("double")), 12)
                  .cast("decimal(38,12)"))),
            "lnj", "lf", Seq("j" -> false))
          .select(col("j"), col("lf"))
        val terms = s.range(0, 1 << 20).select(col("id").as("i"))
          .crossJoin(broadcast(par))
          .filter(col("i") < col("ab"))
          .join(lf.select(col("j").as("j1"), col("lf").as("l1")),
            col("j1") === col("aa") + col("i") - 1)
          .join(lf.select(col("j").as("j2"), col("lf").as("l2")),
            col("j2") === col("ba") + col("bb") - 1)
          .join(lf.select(col("j").as("j3"), col("lf").as("l3")),
            col("j3") === col("aa") + col("i") + col("ba") + col("bb") - 1)
          .join(lf.select(col("j").as("j4"), col("lf").as("l4")),
            col("j4") === col("i"))
          .join(lf.select(col("j").as("j5"), col("lf").as("l5")),
            col("j5") === col("bb") - 1)
          .join(lf.select(col("j").as("j6"), col("lf").as("l6")),
            col("j6") === col("i") + col("bb"))
          .join(lf.select(col("j").as("j7"), col("lf").as("l7")),
            col("j7") === col("aa") - 1)
          .join(lf.select(col("j").as("j8"), col("lf").as("l8")),
            col("j8") === col("ba") - 1)
          .join(lf.select(col("j").as("j9"), col("lf").as("l9")),
            col("j9") === col("aa") + col("ba") - 1)
          .withColumn("lnt",
            (col("l1") + col("l2") - col("l3")) -
            (col("l4") + col("l5") - col("l6")) -
            (col("l7") + col("l8") - col("l9")) -
            round(log((col("bb") + col("i")).cast("double")), 12)
              .cast("decimal(38,12)"))
          .withColumn("t", round(exp(col("lnt").cast("double")), 15)
            .cast("decimal(20,15)"))
        terms.groupBy(col("n_a"), col("conv_a"), col("n_b"), col("conv_b"))
          .agg(round(sum(col("t")).cast("double"), 6)
            .as("prob_b_beats_a"))
          .select(col("n_a"), col("conv_a"), col("n_b"), col("conv_b"),
            col("prob_b_beats_a"))
      },
      Some(s"""WITH conv AS (SELECT user_id,
             |    max(CASE WHEN event_type = 'purchase' AND value > 180
             |      THEN 1 ELSE 0 END)::BIGINT AS c,
             |    (${dkHash60("'ab:' || user_id")} % 2) AS v
             |  FROM events GROUP BY 1),
             |vg AS (SELECT v, count(*)::BIGINT AS n, sum(c)::BIGINT AS cv
             |  FROM conv GROUP BY 1),
             |par AS (SELECT
             |    (SELECT n FROM vg WHERE v = 0) AS n_a,
             |    (SELECT cv FROM vg WHERE v = 0) AS conv_a,
             |    (SELECT n FROM vg WHERE v = 1) AS n_b,
             |    (SELECT cv FROM vg WHERE v = 1) AS conv_b,
             |    (SELECT cv FROM vg WHERE v = 0) + 1 AS aa,
             |    (SELECT n - cv FROM vg WHERE v = 0) + 1 AS ba,
             |    (SELECT cv FROM vg WHERE v = 1) + 1 AS ab,
             |    (SELECT n - cv FROM vg WHERE v = 1) + 1 AS bb),
             |lf AS (SELECT j.range AS j,
             |    sum(CASE WHEN j.range <= 1 THEN 0::DECIMAL(38,12)
             |      ELSE round(ln(j.range::DOUBLE), 12)::DECIMAL(38,12)
             |      END) OVER (ORDER BY j.range
             |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS lf
             |  FROM range(0, 1 << 20) j
             |  JOIN par ON j.range <= par.aa + par.ab + par.ba + par.bb),
             |terms AS (SELECT par.n_a, par.conv_a, par.n_b, par.conv_b,
             |    ((l1.lf + l2.lf - l3.lf) - (l4.lf + l5.lf - l6.lf)
             |     - (l7.lf + l8.lf - l9.lf)
             |     - round(ln((par.bb + i.range)::DOUBLE),
             |        12)::DECIMAL(38,12)) AS lnt
             |  FROM range(0, 1 << 20) i
             |  JOIN par ON i.range < par.ab
             |  JOIN lf l1 ON l1.j = par.aa + i.range - 1
             |  JOIN lf l2 ON l2.j = par.ba + par.bb - 1
             |  JOIN lf l3 ON l3.j = par.aa + i.range + par.ba + par.bb - 1
             |  JOIN lf l4 ON l4.j = i.range
             |  JOIN lf l5 ON l5.j = par.bb - 1
             |  JOIN lf l6 ON l6.j = i.range + par.bb
             |  JOIN lf l7 ON l7.j = par.aa - 1
             |  JOIN lf l8 ON l8.j = par.ba - 1
             |  JOIN lf l9 ON l9.j = par.aa + par.ba - 1)
             |SELECT n_a, conv_a, n_b, conv_b,
             |  round(sum(round(exp(lnt::DOUBLE), 15)::DECIMAL(20,15))
             |    ::DOUBLE, 6) AS prob_b_beats_a
             |FROM terms GROUP BY 1, 2, 3, 4""".stripMargin)),

    // Moran's I (Moran 1950) and Geary's C (Geary 1954) spatial
    // autocorrelation over the hour-of-day × day-of-week activity
    // grid with rook adjacency — is load smooth across neighboring
    // hours or checkerboarded? Cell means are exact integer-div milli
    // values; centering multiplies through by n (c_i = n·x_i − Σx) so
    // every cross product is exact DECIMAL — the n factors cancel in
    // both ratios. The 168-cell grid is digest-sized at any scale.
    QueryDef("q_moran_geary",
      (s, d) => {
        val cells = graft.sources.Tables.events(s, d)
          .groupBy(dayofweek(col("ts")).as("dw"), hour(col("ts")).as("hr"))
          .agg(expr("sum(CAST(floor(value * 1000) AS BIGINT)) div count(*)").as("xm"))
          .persist()
        val tot = cells.agg(count(lit(1)).as("n"), sum(col("xm")).as("sx"))
        val c = cells.crossJoin(broadcast(tot))
          .select(col("dw"), col("hr"),
            (col("n") * col("xm") - col("sx")).cast("decimal(38,0)")
              .as("c"))
          .persist()
        val nbr = c.select(col("dw"), col("hr"), col("c"))
          .join(c.select(col("dw").as("dw2"), col("hr").as("hr2"),
            col("c").as("c2")),
            (col("dw") === col("dw2") &&
              abs(col("hr") - col("hr2")) === 1) ||
            (col("hr") === col("hr2") && abs(col("dw") - col("dw2")) === 1))
        val num = nbr.agg(count(lit(1)).as("w2"),
          sum(col("c") * col("c2")).as("scc"),
          sum((col("c") - col("c2")) * (col("c") - col("c2"))).as("sdd"))
        val den = c.agg(sum(col("c") * col("c")).as("sc2"),
          count(lit(1)).as("n"))
        QueryDef.digest(s, num.crossJoin(broadcast(den))
          .select(col("n").cast("long").as("n_cells"),
            (col("w2") / 2).cast("long").as("w_pairs"),
            round(col("n").cast("double") * col("scc").cast("double") /
              (col("w2").cast("double") * col("sc2").cast("double")), 6)
              .as("moran_i"),
            round((col("n").cast("double") - 1.0) *
              col("sdd").cast("double") /
              (lit(2.0) * col("w2").cast("double") *
                col("sc2").cast("double")), 6).as("geary_c")), cells, c)
      },
      Some("""WITH cells AS (SELECT dayofweek(ts) + 1 AS dw, hour(ts) AS hr,
             |    sum(floor(value * 1000)::BIGINT) // count(*) AS xm
             |  FROM events GROUP BY 1, 2),
             |tot AS (SELECT count(*)::BIGINT AS n, sum(xm)::BIGINT AS sx
             |  FROM cells),
             |c AS (SELECT dw, hr,
             |    (tot.n * xm - tot.sx)::DECIMAL(38,0) AS c
             |  FROM cells, tot),
             |nbr AS (SELECT a.c AS ca, b.c AS cb FROM c a JOIN c b
             |  ON (a.dw = b.dw AND abs(a.hr - b.hr) = 1)
             |  OR (a.hr = b.hr AND abs(a.dw - b.dw) = 1)),
             |num AS (SELECT count(*)::BIGINT AS w2,
             |    sum(ca * cb) AS scc,
             |    sum((ca - cb) * (ca - cb)) AS sdd FROM nbr),
             |den AS (SELECT sum(c * c) AS sc2, count(*)::BIGINT AS n
             |  FROM c)
             |SELECT den.n AS n_cells, (num.w2 / 2)::BIGINT AS w_pairs,
             |  round(den.n::DOUBLE * num.scc::DOUBLE
             |    / (num.w2::DOUBLE * den.sc2::DOUBLE), 6) AS moran_i,
             |  round((den.n::DOUBLE - 1.0) * num.sdd::DOUBLE
             |    / (2.0 * num.w2::DOUBLE * den.sc2::DOUBLE), 6)
             |    AS geary_c
             |FROM num, den""".stripMargin)),

    // Cliff's delta (Cliff 1993) and Vargha-Delaney Â (2000) between
    // the view and purchase value channels — the rank-free ordinal
    // effect sizes robust reporting prefers over Cohen's d. EXACT:
    // concordant/discordant pair counts come from the value-cell grid
    // (per distinct milli value: group counts × cumulative-below of
    // the other group — one hash join on the cell spine, never an
    // all-pairs product), delta = (gt − lt)/(n₁n₂) published in ppm.
    QueryDef("q_cliffs_delta",
      (s, d) => {
        val ev = graft.sources.Tables.events(s, d)
          .filter(col("event_type").isin("view", "purchase"))
          .select((col("event_type") === "view").cast("int").as("g"),
            floor(col("value") * 1000).cast("long").as("vm"))
        val cells = ev.groupBy(col("vm"))
          .agg(sum(col("g")).as("t1"), sum(lit(1) - col("g")).as("t2"))
        val w = Window.orderBy(col("vm"))
        val cum = cells
          .withColumn("b1", coalesce(sum(col("t1")).over(
            w.rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
          .withColumn("b2", coalesce(sum(col("t2")).over(
            w.rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
        cum.agg(sum(col("t1")).as("n1"), sum(col("t2")).as("n2"),
            sum(col("t1").cast("decimal(38,0)") * col("b2")).as("gt"),
            sum(col("t2").cast("decimal(38,0)") * col("b1")).as("lt"),
            sum(col("t1").cast("decimal(38,0)") * col("t2")).as("ties"))
          .select(col("n1").cast("long").as("n_view"),
            col("n2").cast("long").as("n_purchase"),
            expr("CAST((gt - lt) * 1000000 div " +
              "(CAST(n1 AS DECIMAL(38,0)) * n2) AS BIGINT)")
              .as("cliffs_delta_ppm"),
            expr("CAST((gt * 2 + ties) * 500000 div " +
              "(CAST(n1 AS DECIMAL(38,0)) * n2) AS BIGINT)")
              .as("vargha_a_ppm"))
      },
      Some("""WITH ev AS (SELECT
             |    (event_type = 'view')::INT AS g,
             |    floor(value * 1000)::BIGINT AS vm
             |  FROM events WHERE event_type IN ('view', 'purchase')),
             |cells AS (SELECT vm, sum(g)::BIGINT AS t1,
             |    sum(1 - g)::BIGINT AS t2 FROM ev GROUP BY 1),
             |cum AS (SELECT vm, t1, t2,
             |    coalesce(sum(t1) OVER (ORDER BY vm ROWS BETWEEN
             |      UNBOUNDED PRECEDING AND 1 PRECEDING), 0)::BIGINT AS b1,
             |    coalesce(sum(t2) OVER (ORDER BY vm ROWS BETWEEN
             |      UNBOUNDED PRECEDING AND 1 PRECEDING), 0)::BIGINT AS b2
             |  FROM cells),
             |ag AS (SELECT sum(t1)::BIGINT AS n1, sum(t2)::BIGINT AS n2,
             |    sum(t1::HUGEINT * b2) AS gt, sum(t2::HUGEINT * b1) AS lt,
             |    sum(t1::HUGEINT * t2) AS ties
             |  FROM cum)
             |SELECT n1 AS n_view, n2 AS n_purchase,
             |  ((gt - lt) * 1000000 // (n1::HUGEINT * n2))::BIGINT
             |    AS cliffs_delta_ppm,
             |  ((gt * 2 + ties) * 500000 // (n1::HUGEINT * n2))::BIGINT
             |    AS vargha_a_ppm
             |FROM ag""".stripMargin)),

    // Theil T inequality decomposition (Theil 1967): total revenue
    // inequality across users split into WITHIN-channel and BETWEEN-
    // channel components (T = T_w + T_b — additivity is Theil's
    // defining property and the law the spec pins). Shares and logs
    // work on exact milli sums; every ln is 1e-9-quantized into
    // DECIMAL sums sized (20,9)×(19,0) to dodge the scale-6 overflow
    // truncation.
    QueryDef("q_theil_decomposition",
      (s, d) => {
        val ev = graft.sources.Tables.events(s, d)
          .filter(col("value") > 0)
          .select(col("event_type"),
            floor(col("value") * 1000).cast("long").as("vm"))
        val g = ev.groupBy(col("event_type"))
          .agg(count(lit(1)).as("ng"), sum(col("vm")).as("sg"),
            sum(round(log(col("vm").cast("double")), 9)
              .cast("decimal(12,9)") *
              col("vm").cast("decimal(19,0)")).as("slx"))
          .persist()
        val tot = g.agg(sum(col("ng")).as("n"), sum(col("sg")).as("st"))
        val parts = g.crossJoin(broadcast(tot))
          // group share of revenue s_g = sg/st; T_g from Σ x·ln x:
          // T_g = Σ(x/Sg)ln(x·ng/Sg·(1/μg...)) — expand:
          // T_g = (Σ x ln x)/Sg − ln(Sg/ng)
          .withColumn("tg",
            col("slx").cast("double") / col("sg").cast("double") -
              round(log(col("sg").cast("double") /
                col("ng").cast("double")), 9))
          .withColumn("sh", col("sg").cast("double") /
            col("st").cast("double"))
          .withColumn("lr",
            round(log((col("sg").cast("double") *
              col("n").cast("double")) /
              (col("st").cast("double") * col("ng").cast("double"))), 9))
        QueryDef.digest(s, parts.agg(
            max(col("n")).cast("long").as("n_events"),
            sum(round(col("sh") * col("tg"), 9).cast("decimal(20,9)"))
              .cast("double").as("tw"),
            sum(round(col("sh") * col("lr"), 9).cast("decimal(20,9)"))
              .cast("double").as("tb"))
          .select(col("n_events"),
            round(col("tw"), 6).as("theil_within"),
            round(col("tb"), 6).as("theil_between"),
            round(col("tw") + col("tb"), 6).as("theil_total")), g)
      },
      Some("""WITH ev AS (SELECT event_type,
             |    floor(value * 1000)::BIGINT AS vm
             |  FROM events WHERE value > 0),
             |g AS (SELECT event_type, count(*)::BIGINT AS ng,
             |    sum(vm)::BIGINT AS sg,
             |    sum(round(ln(vm::DOUBLE), 9)::DECIMAL(12,9)
             |      * vm::DECIMAL(19,0)) AS slx
             |  FROM ev GROUP BY 1),
             |tot AS (SELECT sum(ng)::BIGINT AS n, sum(sg)::BIGINT AS st
             |  FROM g),
             |parts AS (SELECT
             |    slx::DOUBLE / sg::DOUBLE
             |      - round(ln(sg::DOUBLE / ng::DOUBLE), 9) AS tg,
             |    sg::DOUBLE / st::DOUBLE AS sh,
             |    round(ln((sg::DOUBLE * n::DOUBLE)
             |      / (st::DOUBLE * ng::DOUBLE)), 9) AS lr,
             |    tot.n
             |  FROM g, tot),
             |ag AS (SELECT max(n)::BIGINT AS n_events,
             |    sum(round(sh * tg, 9)::DECIMAL(20,9))::DOUBLE AS tw,
             |    sum(round(sh * lr, 9)::DECIMAL(20,9))::DOUBLE AS tb
             |  FROM parts)
             |SELECT n_events, round(tw, 6) AS theil_within,
             |  round(tb, 6) AS theil_between,
             |  round(tw + tb, 6) AS theil_total
             |FROM ag""".stripMargin)),

    // Binary-classifier quality panel — Matthews correlation (1975),
    // F2, and balanced accuracy for the one-rule classifier "value >
    // 100 predicts purchase". All four confusion cells are exact
    // BIGINTs; MCC's denominator product is DECIMAL (it wraps int64
    // past ~50k positives) and the final scores are one double each.
    QueryDef("q_mcc_fbeta",
      (s, d) => {
        val cm = graft.sources.Tables.events(s, d)
          .select((col("event_type") === "purchase").cast("int").as("y"),
            (col("value") > 100).cast("int").as("p"))
          .agg(sum(col("y") * col("p")).cast("long").as("tp"),
            sum((lit(1) - col("y")) * col("p")).cast("long").as("fp"),
            sum(col("y") * (lit(1) - col("p"))).cast("long").as("fn"),
            sum((lit(1) - col("y")) * (lit(1) - col("p"))).cast("long")
              .as("tn"))
        cm.select(col("tp"), col("fp"), col("fn"), col("tn"),
            round(((col("tp").cast("decimal(38,0)") * col("tn") -
              col("fp").cast("decimal(38,0)") * col("fn"))
              .cast("double")) /
              sqrt(((col("tp") + col("fp")).cast("decimal(38,0)") *
                (col("tp") + col("fn")) * (col("tn") + col("fp")) *
                (col("tn") + col("fn"))).cast("double")), 6).as("mcc"),
            round(lit(5.0) * col("tp").cast("double") /
              (lit(5.0) * col("tp") + lit(4.0) * col("fn") + col("fp"))
                .cast("double"), 6).as("f2"),
            round((col("tp").cast("double") /
              (col("tp") + col("fn")).cast("double") +
              col("tn").cast("double") /
                (col("tn") + col("fp")).cast("double")) / 2.0, 6)
              .as("balanced_accuracy"))
      },
      Some("""WITH cm AS (SELECT
             |    sum(((event_type = 'purchase') AND value > 100)::INT)
             |      ::BIGINT AS tp,
             |    sum(((event_type <> 'purchase') AND value > 100)::INT)
             |      ::BIGINT AS fp,
             |    sum(((event_type = 'purchase') AND value <= 100)::INT)
             |      ::BIGINT AS fn,
             |    sum(((event_type <> 'purchase') AND value <= 100)::INT)
             |      ::BIGINT AS tn
             |  FROM events)
             |SELECT tp, fp, fn, tn,
             |  round((tp::HUGEINT * tn - fp::HUGEINT * fn)::DOUBLE
             |    / sqrt(((tp + fp)::HUGEINT * (tp + fn) * (tn + fp)
             |      * (tn + fn))::DOUBLE), 6) AS mcc,
             |  round(5.0 * tp::DOUBLE
             |    / (5.0 * tp + 4.0 * fn + fp)::DOUBLE, 6) AS f2,
             |  round((tp::DOUBLE / (tp + fn)::DOUBLE
             |    + tn::DOUBLE / (tn + fp)::DOUBLE) / 2.0, 6)
             |    AS balanced_accuracy
             |FROM cm""".stripMargin)),

    // Bucketed co-located join: orders and lineitem written once as
    // 8-bucket tables on the order key, then joined with ZERO join-
    // side shuffle — the bucketing contract pre-shuffles at write
    // time, the single biggest repeated-join win at 100 TB (the plan
    // law in R12QueriesSpec pins ≤ 1 exchange: only the final
    // per-priority rollup moves data). The tables are
    // `graft.sources.Bucketing`'s, the ones q3_bucketed reads.
    QueryDef("io_bucketed_join",
      (s, d) =>
        graft.sources.Bucketing.ordersBucketed(s, d)
          .join(graft.sources.Bucketing.lineitemBucketed(s, d),
            col("o_orderkey") === col("l_orderkey"))
          .groupBy(col("o_orderpriority"))
          .agg(count(lit(1)).as("n_lines"),
            sum(floor(col("l_extendedprice") *
              (lit(1.0) - col("l_discount")) * 100).cast("long"))
              .as("revenue_cents"))
          .orderBy(col("o_orderpriority")),
      Some("""SELECT o_orderpriority, count(*)::BIGINT AS n_lines,
             |  sum(floor(l_extendedprice * (1.0 - l_discount) * 100)
             |    ::BIGINT)::BIGINT AS revenue_cents
             |FROM orders JOIN lineitem ON o_orderkey = l_orderkey
             |GROUP BY 1 ORDER BY 1""".stripMargin)),

    // Viterbi MAP decoding (Viterbi 1967) of a 2-state calm/busy HMM
    // over the daily activity sequence (obs = day's event count above
    // the period mean). Transition/emission log-probs are 1e-9-grid
    // INTEGER literals identical in both engines, so the whole DP —
    // forward max-sum with packed parent bits, then a backtrack fold
    // over the reversed parent list — is exact BIGINT arithmetic.
    // Ties break to state 0 in both engines. The facts reduce to the
    // ~30-day digest before any DP; the oracle replays forward and
    // backward as two recursive CTEs.
    QueryDef("q_viterbi_states", {
      // trans: 0→0 ln.9, 0→1 ln.1, 1→0 ln.2, 1→1 ln.8
      // emis: state0 high ln.2 / low ln.8; state1 high ln.7 / low ln.3
      val c00 = "(a.d0 + -105360516L)"
      val c10 = "(a.d1 + -1609437912L)"
      val c01 = "(a.d0 + -2302585093L)"
      val c11 = "(a.d1 + -223143551L)"
      val e0 = "(CASE WHEN x = 1 THEN -1609437912L ELSE -223143551L END)"
      val e1 = "(CASE WHEN x = 1 THEN -356674944L ELSE -1203972804L END)"
      val bt = "CAST(CASE WHEN a.cur = 0 THEN p % 2 ELSE p div 2 END AS INT)"
      (s, d) => {
        val xs = graft.sources.Tables.events(s, d)
          .groupBy(to_date(col("ts")).as("day"))
          .agg(count(lit(1)).as("c"))
          .groupBy()
          .agg(sort_array(collect_list(struct(col("day"), col("c"))))
            .as("sd"), sum(col("c")).as("tot"), count(lit(1)).as("nd"))
          .select(col("nd"), expr(
            "transform(sd, e -> CAST(e.c * nd >= tot AS INT))").as("xs"))
        val fwd = xs.withColumn("st", expr(
          "aggregate(slice(xs, 2, size(xs) - 1), named_struct(" +
            "'d0', CASE WHEN element_at(xs, 1) = 1 THEN -693147181L + " +
            "-1609437912L ELSE -693147181L + -223143551L END, " +
            "'d1', CASE WHEN element_at(xs, 1) = 1 THEN -693147181L + " +
            "-356674944L ELSE -693147181L + -1203972804L END, " +
            "'ps', array()::ARRAY<INT>), " +
            s"(a, x) -> named_struct(" +
            s"'d0', greatest($c00, $c10) + $e0, " +
            s"'d1', greatest($c01, $c11) + $e1, " +
            s"'ps', concat(a.ps, array(" +
            s"CAST(CASE WHEN $c10 > $c00 THEN 1 ELSE 0 END + " +
            s"2 * CASE WHEN $c11 > $c01 THEN 1 ELSE 0 END AS INT)))))"))
        fwd.withColumn("sn", expr(
            "CASE WHEN st.d1 > st.d0 THEN 1 ELSE 0 END"))
          .withColumn("bk", expr(
            "aggregate(reverse(st.ps), named_struct(" +
              "'cur', sn, 'cnt', CAST(sn AS BIGINT)), " +
              s"(a, p) -> named_struct('cur', $bt, " +
              s"'cnt', a.cnt + CAST($bt AS BIGINT)))"))
          .select(col("nd").cast("long").as("n_days"),
            greatest(col("st.d0"), col("st.d1")).as("map_logprob_nano"),
            col("bk.cnt").as("n_busy_days"),
            col("sn").cast("long").as("last_state"))
      }
    }, {
      val c00 = "(f.d0 + -105360516)"
      val c10 = "(f.d1 + -1609437912)"
      val c01 = "(f.d0 + -2302585093)"
      val c11 = "(f.d1 + -223143551)"
      val e0 = "(CASE WHEN y.x = 1 THEN -1609437912 ELSE -223143551 END)"
      val e1 = "(CASE WHEN y.x = 1 THEN -356674944 ELSE -1203972804 END)"
      Some(s"""WITH RECURSIVE daily AS (SELECT ts::DATE AS day,
             |    count(*)::BIGINT AS c FROM events GROUP BY 1),
             |tt AS (SELECT sum(c)::BIGINT AS tot,
             |    count(*)::BIGINT AS nd FROM daily),
             |r AS (SELECT (c * tt.nd >= tt.tot)::INT AS x,
             |    row_number() OVER (ORDER BY day) AS rn
             |  FROM daily, tt),
             |fw AS (
             |  SELECT 1 AS k,
             |      (CASE WHEN r.x = 1 THEN -693147181::BIGINT + -1609437912
             |        ELSE -693147181::BIGINT + -223143551 END) AS d0,
             |      (CASE WHEN r.x = 1 THEN -693147181::BIGINT + -356674944
             |        ELSE -693147181::BIGINT + -1203972804 END) AS d1,
             |      0 AS pk
             |    FROM r WHERE rn = 1
             |  UNION ALL
             |  SELECT f.k + 1,
             |      greatest($c00, $c10) + $e0,
             |      greatest($c01, $c11) + $e1,
             |      (CASE WHEN $c10 > $c00 THEN 1 ELSE 0 END
             |       + 2 * CASE WHEN $c11 > $c01 THEN 1 ELSE 0 END)::INT
             |    FROM fw f JOIN r y ON y.rn = f.k + 1),
             |nn AS (SELECT nd FROM tt),
             |fin AS (SELECT f.d0, f.d1,
             |    CASE WHEN f.d1 > f.d0 THEN 1 ELSE 0 END AS sn
             |  FROM fw f, nn WHERE f.k = nn.nd),
             |bw AS (
             |  SELECT nn.nd AS k, fin.sn AS cur, fin.sn::BIGINT AS cnt
             |    FROM fin, nn
             |  UNION ALL
             |  SELECT b.k - 1,
             |      CASE WHEN b.cur = 0 THEN f.pk % 2 ELSE f.pk // 2 END,
             |      b.cnt + (CASE WHEN b.cur = 0 THEN f.pk % 2
             |        ELSE f.pk // 2 END)::BIGINT
             |    FROM bw b JOIN fw f ON f.k = b.k
             |    WHERE b.k >= 2)
             |SELECT nn.nd AS n_days,
             |  greatest(fin.d0, fin.d1)::BIGINT AS map_logprob_nano,
             |  bw.cnt AS n_busy_days, fin.sn::BIGINT AS last_state
             |FROM bw, fin, nn WHERE bw.k = 1""".stripMargin)
    })
  )
}
