package graft.queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Round-11 additions: sequential-DP time-series kernels (DTW,
  * burst detection), order-restricted inference (isotonic/PAVA
  * calibration), rank-based blocked tests (Friedman), graph mixing
  * statistics (degree assortativity), and kernel two-sample tests on
  * embeddings (polynomial-kernel MMD) — each with an exact DuckDB
  * oracle built on the repo's integer-grid determinism discipline.
  *
  * Reference scope: the reference app (reference `app.py:139-200`)
  * exposes resampling + correlation analytics over sensor streams;
  * these queries extend the same daily-digest analytics surface the
  * SURVEY §2.5 block derives from it (A4 correlation, A5 describe)
  * with the standard time-series / calibration / two-sample toolkit a
  * training-data pipeline reports on, all driver-graded.
  */
object R11Queries {

  val defs: Seq[QueryDef] = Seq(

    // Dynamic time warping (Sakoe & Chiba 1978) between the daily
    // 'view' and 'purchase' count series — the classic alignment
    // distance between two sensor/traffic curves. Both series are
    // zero-filled onto one calendar spine, so the DP is over integer
    // costs |a_i - b_j| and is bit-deterministic with NO floats. The
    // O(n·m) recurrence runs as ONE codegen'd `aggregate()` fold over
    // the row-major cell sequence, carrying a sliding window of the
    // last m+2 dp values (the same trick the oracle's recursive CTE
    // replays list-identically): dp[i][j-1] is the window's last
    // element, dp[i-1][j] its 2nd, dp[i-1][j-1] its 1st. Facts are
    // reduced to a calendar digest (one shuffle, ~30 rows/series)
    // before any DP work, so 100 TB of events still folds a ~1k-cell
    // table on the driver-side row — never data-sized. INF sentinel
    // 1e14 dominates any real path cost until daily counts reach
    // ~1e12 (far past sf1e4).
    QueryDef("q_dtw_distance",
      (s, d) => {
        val daily = graft.sources.Tables.events(s, d)
          .filter(col("event_type").isin("view", "purchase"))
          .groupBy(to_date(col("ts")).as("day"), col("event_type"))
          .agg(count(lit(1)).as("c"))
        daily.groupBy()
          .agg(min(col("day")).as("d0"), max(col("day")).as("d1"),
            map_from_entries(collect_list(
              when(col("event_type") === "view",
                struct(col("day"), col("c"))))).as("mv"),
            map_from_entries(collect_list(
              when(col("event_type") === "purchase",
                struct(col("day"), col("c"))))).as("mp"))
          .select(
            expr("transform(sequence(d0, d1), dd -> coalesce(mv[dd], 0L))")
              .as("la"),
            expr("transform(sequence(d0, d1), dd -> coalesce(mp[dd], 0L))")
              .as("lb"))
          .withColumn("m", size(col("lb")))
          // row 0 of the dp table is [0, INF×m]; the initial window
          // prepends one INF for the fictitious cell -1, so the fold
          // starts with the full (m+2)-wide window ending at cell m.
          .withColumn("l0", expr(
            "concat(array(100000000000000L, 0L), " +
              "array_repeat(100000000000000L, m))"))
          .withColumn("lf", expr(
            """aggregate(sequence(m + 1, (m + 1) * (m + 1) - 1), l0,
              |  (l, c) -> concat(slice(l, 2, m + 1), array(
              |    CASE WHEN c % (m + 1) = 0 THEN 100000000000000L
              |    ELSE abs(element_at(la, int(c div (m + 1)))
              |             - element_at(lb, int(c % (m + 1))))
              |         + least(element_at(l, 1), element_at(l, 2),
              |                 element_at(l, m + 2))
              |    END)))""".stripMargin))
          .select(col("m").cast("long").as("n_days"),
            element_at(col("lf"), col("m") + 2).as("dtw"))
      },
      Some("""WITH RECURSIVE sp AS (SELECT min(ts::DATE) AS d0,
             |    max(ts::DATE) AS d1 FROM events
             |  WHERE event_type IN ('view', 'purchase')),
             |daily AS (SELECT datediff('day', sp.d0, ts::DATE) AS k,
             |    event_type, count(*)::BIGINT AS c
             |  FROM events, sp WHERE event_type IN ('view', 'purchase')
             |  GROUP BY 1, 2),
             |spine AS (SELECT unnest(range(0,
             |    datediff('day', sp.d0, sp.d1) + 1)) AS k FROM sp),
             |ser AS (SELECT list(coalesce(v.c, 0) ORDER BY r.k) AS la,
             |    list(coalesce(p.c, 0) ORDER BY r.k) AS lb,
             |    count(*)::BIGINT AS m
             |  FROM spine r
             |  LEFT JOIN daily v ON v.k = r.k AND v.event_type = 'view'
             |  LEFT JOIN daily p ON p.k = r.k AND p.event_type = 'purchase'),
             |it AS (
             |  SELECT m AS c,
             |      [100000000000000::BIGINT, 0::BIGINT]
             |        || list_transform(range(0, m),
             |             x -> 100000000000000::BIGINT) AS l
             |    FROM ser
             |  UNION ALL
             |  SELECT it.c + 1, it.l[2:] ||
             |      [CASE WHEN (it.c + 1) % (ser.m + 1) = 0
             |            THEN 100000000000000::BIGINT
             |       ELSE abs(ser.la[((it.c + 1) // (ser.m + 1))::INT]
             |                - ser.lb[((it.c + 1) % (ser.m + 1))::INT])
             |            + least(it.l[1], it.l[2], it.l[(ser.m + 2)::INT])
             |       END]
             |    FROM it, ser
             |    WHERE it.c + 1 <= (ser.m + 1) * (ser.m + 1) - 1)
             |SELECT ser.m AS n_days, it.l[(ser.m + 2)::INT] AS dtw
             |FROM it, ser
             |WHERE it.c = (ser.m + 1) * (ser.m + 1) - 1""".stripMargin)),

    // Isotonic calibration via PAVA in closed form (Ayer et al. 1955;
    // Barlow & Brunk 1972): label = "view converts to a purchase by
    // the same user within 24h" (the next-qualifying-event window —
    // one shuffle on user_id, no as-of self-join), score = the view's
    // `value` in 20 fixed-width bins. The isotonic fit over the bin
    // digest uses the max-min representation fit(i) = max_{h<=i}
    // min_{j>=i} mean(h..j), evaluated on exact integer prefix sums
    // with the mean quantized to a 1e-12 grid BEFORE the min/max —
    // so both engines pick identical values with no float compares.
    // The O(B^3) enumeration runs on the ≤20-row bin digest, never on
    // facts; at 100 TB the only data-sized work is the one windowed
    // pass over user-partitioned events.
    QueryDef("q_isotonic_calibration",
      (s, d) => {
        val w = Window.partitionBy(col("user_id"))
          .orderBy(col("ts"), col("event_id"))
          .rowsBetween(1, Window.unboundedFollowing)
        val lab = graft.sources.Tables.events(s, d)
          .filter(col("event_type").isin("view", "purchase"))
          .withColumn("np",
            min(when(col("event_type") === "purchase",
              unix_micros(col("ts")))).over(w))
          .filter(col("event_type") === "view")
          .select(
            least(floor(col("value") / lit(25.0)).cast("long"), lit(19L))
              .as("bin"),
            when(col("np").isNotNull &&
              col("np") - unix_micros(col("ts")) <= 86400000000L, 1L)
              .otherwise(0L).as("pos"))
        val bins = lab.groupBy(col("bin"))
          .agg(count(lit(1)).as("n"), sum(col("pos")).as("pos"))
        val wo = Window.orderBy(col("bin"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        val idx = bins
          .withColumn("r", row_number().over(Window.orderBy(col("bin"))))
          .withColumn("cp", sum(col("pos")).over(wo))
          .withColumn("cn", sum(col("n")).over(wo))
        val a = idx.select(col("r").as("h"), col("cp").as("hp"),
          col("cn").as("hn"), col("pos").as("hpos"), col("n").as("hcnt"))
        val b = idx.select(col("r").as("j"), col("cp").as("jp"),
          col("cn").as("jn"))
        val seg = a.join(b, col("h") <= col("j"))
          .select(col("h"), col("j"),
            expr("(jp - hp + hpos) * 1000000000000L div (jn - hn + hcnt)")
              .as("avg_q"))
        val mid = seg.join(idx.select(col("r").as("i")),
            col("h") <= col("i") && col("j") >= col("i"))
          .groupBy(col("i"), col("h")).agg(min(col("avg_q")).as("mn"))
          .groupBy(col("i")).agg(max(col("mn")).as("fit_q"))
        idx.join(mid, col("r") === col("i"))
          .select(col("bin"), col("n"), col("pos"),
            expr("pos * 1000000 div n").as("rate_ppm"),
            expr("fit_q div 1000000").as("iso_ppm"))
          .orderBy(col("bin"))
      },
      Some("""WITH f AS (SELECT user_id, event_id, event_type, ts, value,
             |    epoch_us(ts) AS us FROM events
             |  WHERE event_type IN ('view', 'purchase')),
             |l AS (SELECT event_type, value,
             |    min(CASE WHEN event_type = 'purchase' THEN us END) OVER (
             |      PARTITION BY user_id ORDER BY ts, event_id
             |      ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING) AS np,
             |    us FROM f),
             |lab AS (SELECT least(floor(value / 25.0)::BIGINT, 19) AS bin,
             |    CASE WHEN np IS NOT NULL AND np - us <= 86400000000
             |         THEN 1 ELSE 0 END AS pos
             |  FROM l WHERE event_type = 'view'),
             |bins AS (SELECT bin, count(*)::BIGINT AS n,
             |    sum(pos)::BIGINT AS pos FROM lab GROUP BY 1),
             |idx AS (SELECT bin, n, pos,
             |    row_number() OVER (ORDER BY bin) AS r,
             |    sum(pos) OVER w AS cp, sum(n) OVER w AS cn
             |  FROM bins WINDOW w AS (ORDER BY bin
             |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
             |seg AS (SELECT a.r AS h, b.r AS j,
             |    ((b.cp - a.cp + a.pos) * 1000000000000)
             |      // (b.cn - a.cn + a.n) AS avg_q
             |  FROM idx a JOIN idx b ON a.r <= b.r),
             |mid AS (SELECT i.r AS i, seg.h, min(seg.avg_q) AS mn
             |  FROM seg JOIN idx i ON seg.h <= i.r AND seg.j >= i.r
             |  GROUP BY 1, 2),
             |fit AS (SELECT i, max(mn) AS fit_q FROM mid GROUP BY 1)
             |SELECT idx.bin, idx.n, idx.pos,
             |  (idx.pos * 1000000 // idx.n)::BIGINT AS rate_ppm,
             |  (fit.fit_q // 1000000)::BIGINT AS iso_ppm
             |FROM idx JOIN fit ON idx.r = fit.i
             |ORDER BY idx.bin""".stripMargin)),

    // Friedman rank test (Friedman 1937) — are the 5 event types'
    // daily revenues drawn from the same distribution, blocking by
    // day? Daily revenue sums are EXACT DECIMAL(18,2) (partition-
    // order independent), ranks within each day use midrank×2
    // integers (2·rank + ties − 1) so ties stay exact, and the
    // statistic χ²_F = 3·ΣR2²/(n·k·(k+1)) − 3·n·(k+1) (R2 = 2·R) is
    // a single double division over exact BIGINTs, rounded once.
    // One shuffle to the (day × type) digest; everything after is
    // calendar-sized.
    QueryDef("q_friedman_test",
      (s, d) => {
        val daily = graft.sources.Tables.events(s, d)
          .groupBy(to_date(col("ts")).as("day"), col("event_type"))
          .agg(sum(col("value").cast("decimal(18,2)")).as("v"))
        val wd = Window.partitionBy(col("day")).orderBy(col("v"))
        val wt = Window.partitionBy(col("day"), col("v"))
        val r2 = daily
          .withColumn("r2",
            lit(2) * rank().over(wd) + count(lit(1)).over(wt) - lit(1))
        val byType = r2.groupBy(col("event_type"))
          .agg(sum(col("r2")).cast("long").as("rr"))
        val nk = daily.agg(
          countDistinct(col("day")).as("n"),
          countDistinct(col("event_type")).as("k")).crossJoin(
          byType.agg(sum(col("rr") * col("rr")).as("s")))
        nk.select(col("n"), col("k"), (col("k") - 1).as("df"),
            round(lit(3.0) * col("s").cast("double") /
              (col("n") * col("k") * (col("k") + 1)).cast("double") -
              lit(3.0) * (col("n") * (col("k") + 1)).cast("double"), 6)
              .as("chi2_f"))
      },
      Some("""WITH daily AS (SELECT ts::DATE AS day, event_type,
             |    sum(CAST(value AS DECIMAL(18,2))) AS v
             |  FROM events GROUP BY 1, 2),
             |r AS (SELECT day, event_type,
             |    2 * rank() OVER (PARTITION BY day ORDER BY v)
             |      + count(*) OVER (PARTITION BY day, v) - 1 AS r2
             |  FROM daily),
             |bt AS (SELECT event_type, sum(r2)::BIGINT AS rr
             |  FROM r GROUP BY 1),
             |nk AS (SELECT count(DISTINCT day)::BIGINT AS n,
             |    count(DISTINCT event_type)::BIGINT AS k FROM daily),
             |s AS (SELECT sum(rr * rr)::BIGINT AS s FROM bt)
             |SELECT nk.n, nk.k, nk.k - 1 AS df,
             |  round(3.0 * s.s::DOUBLE / (nk.n * nk.k * (nk.k + 1))::DOUBLE
             |    - 3.0 * (nk.n * (nk.k + 1))::DOUBLE, 6) AS chi2_f
             |FROM nk, s""".stripMargin)),

    // Degree assortativity (Newman 2002) of the co-purchase graph —
    // do high-degree parts co-purchase with high-degree parts? The
    // Pearson correlation of endpoint degrees over all DIRECTED edge
    // instances collapses to r = (E·Sxy − Sx²)/(E·Sxx − Sx²) because
    // the symmetrized edge list makes the two marginals identical.
    // Every sum is an exact integer (DECIMAL(38,0) for the products,
    // which clear int64 once degrees reach ~1e5 at cluster scale);
    // the single float op is the final division, rounded once. Degree
    // table joins back to edges on the shuffle key the edge artifact
    // already has; at 100 TB the degree digest broadcasts.
    QueryDef("q_graph_assortativity",
      (s, d) => {
        val e = s.read.parquet(SqlQueries.copurchaseEdgesOf(s, d))
        val eb = e.select(col("p1").as("src"), col("p2").as("dst"))
          .unionAll(e.select(col("p2").as("src"), col("p1").as("dst")))
        val deg = eb.groupBy(col("src").as("node"))
          .agg(count(lit(1)).as("deg"))
        val ed = eb
          .join(deg.select(col("node").as("ns"), col("deg").as("dx")),
            col("src") === col("ns"))
          .join(deg.select(col("node").as("nd"), col("deg").as("dy")),
            col("dst") === col("nd"))
        ed.agg(count(lit(1)).as("e"),
            sum(col("dx").cast("decimal(38,0)")).as("sx"),
            sum((col("dx") * col("dy")).cast("decimal(38,0)")).as("sxy"),
            sum((col("dx") * col("dx")).cast("decimal(38,0)")).as("sxx"))
          .crossJoin(deg.agg(count(lit(1)).as("n_nodes")))
          .select(col("n_nodes"), col("e").as("n_edges"),
            round((col("e") * col("sxy") - col("sx") * col("sx"))
              .cast("double") /
              (col("e") * col("sxx") - col("sx") * col("sx"))
                .cast("double"), 6).as("assortativity"))
      },
      Some("""WITH pp AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
             |e AS (SELECT a.l_partkey AS p1, b.l_partkey AS p2
             |  FROM pp a JOIN pp b
             |    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
             |  GROUP BY 1, 2 HAVING count(*) >= 2),
             |eb AS (SELECT p1 AS src, p2 AS dst FROM e
             |  UNION ALL SELECT p2, p1 FROM e),
             |deg AS (SELECT src AS node, count(*)::BIGINT AS deg
             |  FROM eb GROUP BY 1),
             |ed AS (SELECT ds.deg AS dx, dd.deg AS dy
             |  FROM eb JOIN deg ds ON eb.src = ds.node
             |    JOIN deg dd ON eb.dst = dd.node),
             |g AS (SELECT count(*)::BIGINT AS e,
             |    sum(dx::HUGEINT) AS sx, sum((dx * dy)::HUGEINT) AS sxy,
             |    sum((dx * dx)::HUGEINT) AS sxx FROM ed),
             |nn AS (SELECT count(*)::BIGINT AS n_nodes FROM deg)
             |SELECT nn.n_nodes, g.e AS n_edges,
             |  round((g.e * g.sxy - g.sx * g.sx)::DOUBLE
             |    / (g.e * g.sxx - g.sx * g.sx)::DOUBLE, 6) AS assortativity
             |FROM g, nn""".stripMargin)),

    // McNemar's test for paired binary outcomes (McNemar 1947): per
    // user, "hit a low-k error in the first half of the span" vs the
    // second half — the before/after shape of a release comparison.
    // Only the discordant counts b and c enter the statistic
    // (continuity-corrected (|b−c|−1)²/(b+c)); all counts are exact
    // integers and the single float division is rounded once. One
    // shuffle to the per-user digest; the split date derives from the
    // data's own span, so the query is sf-independent.
    QueryDef("q_mcnemar",
      (s, d) => {
        val ev = graft.sources.Tables.events(s, d)
        val sp = ev.agg(min(to_date(col("ts"))).as("d0"),
            max(to_date(col("ts"))).as("d1"))
          .select(date_add(col("d0"),
            expr("int((datediff(d1, d0) + 1) div 2)")).as("mid"))
        val k = from_json(col("props"),
          org.apache.spark.sql.types.StructType.fromDDL("k BIGINT"))
          .getField("k")
        val flag = col("event_type") === "error" && k < 10
        val u = ev.crossJoin(broadcast(sp))
          .groupBy(col("user_id"))
          .agg(
            max(when(flag && to_date(col("ts")) < col("mid"), 1L)
              .otherwise(0L)).as("h1"),
            max(when(flag && to_date(col("ts")) >= col("mid"), 1L)
              .otherwise(0L)).as("h2"))
        u.agg(count(lit(1)).as("n_users"),
            sum(when(col("h1") === 1 && col("h2") === 0, 1L).otherwise(0L))
              .as("b"),
            sum(when(col("h1") === 0 && col("h2") === 1, 1L).otherwise(0L))
              .as("c"))
          .select(col("n_users"), col("b"), col("c"),
            round((abs(col("b") - col("c")).cast("double") - lit(1.0)) *
              (abs(col("b") - col("c")).cast("double") - lit(1.0)) /
              (col("b") + col("c")).cast("double"), 6).as("chi2_mcnemar"))
      },
      Some("""WITH sp AS (SELECT min(ts::DATE) AS d0,
             |    min(ts::DATE)
             |      + ((datediff('day', min(ts::DATE), max(ts::DATE)) + 1) // 2)
             |      * INTERVAL 1 DAY AS mid FROM events),
             |u AS (SELECT user_id,
             |    max(CASE WHEN event_type = 'error'
             |        AND CAST(json_extract(props, '$.k') AS BIGINT) < 10
             |        AND ts::DATE < sp.mid THEN 1 ELSE 0 END) AS h1,
             |    max(CASE WHEN event_type = 'error'
             |        AND CAST(json_extract(props, '$.k') AS BIGINT) < 10
             |        AND ts::DATE >= sp.mid THEN 1 ELSE 0 END) AS h2
             |  FROM events, sp GROUP BY 1),
             |bc AS (SELECT count(*)::BIGINT AS n_users,
             |    sum(CASE WHEN h1 = 1 AND h2 = 0 THEN 1 ELSE 0 END)::BIGINT
             |      AS b,
             |    sum(CASE WHEN h1 = 0 AND h2 = 1 THEN 1 ELSE 0 END)::BIGINT
             |      AS c
             |  FROM u)
             |SELECT n_users, b, c,
             |  round((abs(b - c) - 1.0) * (abs(b - c) - 1.0)
             |    / (b + c)::DOUBLE, 6) AS chi2_mcnemar
             |FROM bc""".stripMargin)),

    // Cochran–Mantel–Haenszel test (Mantel & Haenszel 1959) for a
    // common odds ratio across day strata: exposure = props.k < 50,
    // outcome = purchase-vs-view, stratified by calendar day — the
    // confounder-adjusted 2×2 the unstratified χ² gets wrong under
    // day-level drift. Per-stratum expectations and variances are
    // quantized to integer 1e-9/1e-6 grids via integral division
    // (DECIMAL(38,0) operands — the variance product n1·n0·m1·m0
    // clears int64 at sf0.1 already), summed exactly, and the
    // continuity-corrected statistic is one rounded float op. One
    // shuffle to the 30-row day digest.
    QueryDef("q_cmh_test",
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
            sum(col("outc")).as("n1"),
            sum(lit(1L) - col("outc")).as("n0"),
            sum(col("expo")).as("m1"),
            sum(lit(1L) - col("expo")).as("m0"),
            count(lit(1)).as("nt"))
          .filter(col("nt") > 1)
        st.agg(
            sum(expr("a * 1000000000L - " +
              "(cast(n1 as decimal(38,0)) * m1 * 1000000000) div nt"))
              .as("num_e9"),
            sum(expr(
              "(cast(n1 as decimal(38,0)) * n0 * m1 * m0 * 1000000) div " +
                "(cast(nt as decimal(38,0)) * nt * (nt - 1))"))
              .as("den_e6"),
            count(lit(1)).as("n_strata"))
          .select(col("n_strata"),
            col("num_e9").cast("long").as("num_e9"),
            col("den_e6").cast("long").as("den_e6"),
            round((abs(col("num_e9").cast("double") / lit(1e9)) - lit(0.5)) *
              (abs(col("num_e9").cast("double") / lit(1e9)) - lit(0.5)) /
              (col("den_e6").cast("double") / lit(1e6)), 6).as("chi2_cmh"))
      },
      Some("""WITH f AS (SELECT ts::DATE AS day,
             |    CASE WHEN CAST(json_extract(props, '$.k') AS BIGINT) < 50
             |         THEN 1 ELSE 0 END AS expo,
             |    CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS outc
             |  FROM events WHERE event_type IN ('purchase', 'view')),
             |s AS (SELECT day,
             |    sum(expo * outc)::BIGINT AS a,
             |    sum(outc)::BIGINT AS n1,
             |    sum(1 - outc)::BIGINT AS n0,
             |    sum(expo)::BIGINT AS m1,
             |    sum(1 - expo)::BIGINT AS m0,
             |    count(*)::BIGINT AS nt
             |  FROM f GROUP BY 1 HAVING count(*) > 1),
             |t AS (SELECT
             |    sum(a * 1000000000
             |      - (n1 * m1 * 1000000000) // nt)::BIGINT AS num_e9,
             |    sum(((n1::HUGEINT * n0 * m1 * m0 * 1000000)
             |        // (nt::HUGEINT * nt * (nt - 1)))::BIGINT)::BIGINT
             |      AS den_e6,
             |    count(*)::BIGINT AS n_strata
             |  FROM s)
             |SELECT n_strata, num_e9, den_e6,
             |  round((abs(num_e9 / 1000000000.0) - 0.5)
             |      * (abs(num_e9 / 1000000000.0) - 0.5)
             |      / (den_e6 / 1000000.0), 6) AS chi2_cmh
             |FROM t""".stripMargin)),

    // Polynomial-kernel MMD² two-sample test between embedding label
    // groups (Gretton et al. 2012, JMLR): with k(x,y) = (x·y)², MMD²
    // collapses to ‖M_P − M_Q‖²_F over the second-moment matrices
    // M = E[xxᵀ] — so the O(n²)-pairs kernel statistic becomes ONE
    // linear pass building per-group Gram sums (map-side partial agg,
    // the 136-pair upper triangle fanned out per row like
    // emb_covariance), then a digest-sized label-pair join. Exact:
    // 1e-3-grid quantized coordinates, DECIMAL(38,0) cross terms
    // (S·n reaches ~1e18 at ~1e6 vectors/group), one rounded float
    // division at the end. The distributed story is the whole point:
    // at 100 TB this is the only MMD formulation that doesn't
    // shuffle pairs.
    QueryDef("emb_mmd_poly",
      (s, d) => {
        val xq = transform(slice(col("embedding"), 1, 16),
          x => round(x.cast("double") * 1000, 0).cast("long"))
        val pairs = flatten(transform(sequence(lit(0), lit(15)), i =>
          transform(sequence(i, lit(15)), j =>
            struct(i.cast("int").as("i"), j.cast("int").as("j"),
              (element_at(col("__xq"), (i + lit(1)).cast("int")) *
                element_at(col("__xq"), (j + lit(1)).cast("int")))
                .as("xy")))))
        val emb = graft.sources.Tables.load(s, d, "embeddings")
        val g = emb.select(col("label"), xq.as("__xq"))
          .select(col("label"), explode(pairs).as("p"))
          .groupBy(col("label"), col("p.i").as("i"), col("p.j").as("j"))
          .agg(sum(col("p.xy")).as("sij"))
        val n = emb.groupBy(col("label")).agg(count(lit(1)).as("n"))
        val ga = g.join(n, "label")
          .select(col("label").as("label_a"), col("i"), col("j"),
            col("sij").as("sa"), col("n").as("na"))
        val gb = g.join(n, "label")
          .select(col("label").as("label_b"), col("i").as("ib"),
            col("j").as("jb"), col("sij").as("sb"), col("n").as("nb"))
        ga.join(gb, col("i") === col("ib") && col("j") === col("jb") &&
            col("label_a") < col("label_b"))
          .select(col("label_a"), col("label_b"), col("na"), col("nb"),
            expr("cast(CASE WHEN i = j THEN 1 ELSE 2 END as decimal(38,0))" +
              " * (cast(sa as decimal(38,0)) * nb" +
              "    - cast(sb as decimal(38,0)) * na)" +
              " * (cast(sa as decimal(38,0)) * nb" +
              "    - cast(sb as decimal(38,0)) * na)").as("d2"))
          .groupBy(col("label_a"), col("label_b"), col("na"), col("nb"))
          .agg(sum(col("d2")).as("s2"))
          .select(col("label_a"), col("label_b"),
            round(col("s2").cast("double") /
              (col("na") * col("nb")).cast("double") /
              (col("na") * col("nb")).cast("double") /
              lit(1e12), 6).as("mmd2"))
          .orderBy(col("label_a"), col("label_b"))
      },
      Some("""WITH x AS (SELECT vec_id, label, r.i::INT AS i,
             |    round(embedding[r.i + 1]::DOUBLE * 1000)::BIGINT AS xq
             |  FROM embeddings, range(16) r(i)),
             |p AS (SELECT a.label, a.i, b.i AS j, a.xq * b.xq AS xy
             |  FROM x a JOIN x b ON a.vec_id = b.vec_id AND a.i <= b.i),
             |g AS (SELECT label, i, j, sum(xy)::BIGINT AS sij
             |  FROM p GROUP BY 1, 2, 3),
             |n AS (SELECT label, count(*)::BIGINT AS n
             |  FROM embeddings GROUP BY 1),
             |pr AS (SELECT ga.label AS label_a, gb.label AS label_b,
             |    na.n AS na, nb.n AS nb,
             |    (CASE WHEN ga.i = ga.j THEN 1 ELSE 2 END)::HUGEINT
             |      * (ga.sij::HUGEINT * nb.n - gb.sij::HUGEINT * na.n)
             |      * (ga.sij::HUGEINT * nb.n - gb.sij::HUGEINT * na.n) AS d2
             |  FROM g ga JOIN g gb ON ga.i = gb.i AND ga.j = gb.j
             |    AND ga.label < gb.label
             |  JOIN n na ON na.label = ga.label
             |  JOIN n nb ON nb.label = gb.label),
             |m AS (SELECT label_a, label_b, na, nb, sum(d2) AS s2
             |  FROM pr GROUP BY 1, 2, 3, 4)
             |SELECT label_a, label_b,
             |  round(s2::DOUBLE / (na * nb)::DOUBLE / (na * nb)::DOUBLE
             |    / 1000000000000.0, 6) AS mmd2
             |FROM m ORDER BY label_a, label_b""".stripMargin)),

    // HITS hubs & authorities (Kleinberg 1999, JACM) on the bipartite
    // customer→part purchase graph — "which customers' baskets define
    // which parts matter". Two full mutual-reinforcement rounds with
    // L1 normalization onto a 1e9 integer grid each half-step
    // (DECIMAL(38,0) integral division — exact, no float drift, so
    // DuckDB replays the iteration bit-identically). Each half-step
    // is one hash join on the edge key plus a partial-aggregatable
    // sum; normalization totals are single-row digests broadcast back
    // — the standard iterate-as-DataFrame pattern that survives a
    // 1000-executor graph. The edge list and each half-step's raw
    // scores are persisted: every score table feeds BOTH its own
    // normalization total and the next half-step, so without the
    // persist the lineage doubles per half-step and the edge join
    // re-executes 2^4 times (PlanSweep showed BNLJ ×22 for exactly
    // that). Top-15 per side via TakeOrdered, no global window.
    QueryDef("q_hits",
      (s, d) => {
        // AQE OFF for the fixed-iteration kernel (the q_kcore_profile
        // discipline, r15): 4 half-steps × AQE's one-job-per-exchange
        // scheduling measured 38 driver jobs; with static planning the
        // whole mutual-reinforcement chain executes as the 4 broadcast
        // digests plus one final action, and the digest releases every
        // persist even when that action fails. MEASUREMENT NOTE (r16
        // same-window A/B at sf0.1): the r15 form's published
        // ~1.4-1.7 s was CACHE-FLATTERED — it never unpersisted the
        // per-half-step score tables, so Bench trials 2-3 read trial
        // 1's InMemoryRelations (and leaked them into the session).
        // Honest fresh-compute medians: this static+broadcast form 2.1-2.5 s / 14 jobs vs
        // the AQE form WITH cleanup 4.0-4.3 s / 39 jobs — static wins
        // on both axes once every trial actually computes.
        // shuffle.partitions 8 is the count AQE would have coalesced
        // to: every post-edge table is score-digest sized, so 32-wide
        // exchanges are near-empty tasks; 8 keeps the one data-sized
        // shuffle (edge distinct) at 75k rows per task
        QueryDef.withConf(s, "spark.sql.adaptive.enabled" -> "false",
            "spark.sql.shuffle.partitions" -> "8") {
        val live = scala.collection.mutable.ArrayBuffer.empty[
          org.apache.spark.sql.DataFrame]
        val e = graft.sources.Tables.load(s, d, "orders")
          .select(col("o_orderkey"), col("o_custkey"))
          .join(graft.sources.Tables.load(s, d, "lineitem")
            .select(col("l_orderkey"), col("l_partkey")),
            col("o_orderkey") === col("l_orderkey"))
          .select(col("o_custkey").as("u"), col("l_partkey").as("p"))
          .distinct()
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        live += e
        def l1norm(df: org.apache.spark.sql.DataFrame, key: String,
                   raw: String, out: String) = {
          val m = df.persist(
            org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
          live += m
          m.crossJoin(broadcast(
              m.agg(sum(col(raw).cast("decimal(38,0)")).as("tot"))))
            .select(col(key),
              expr(s"cast((cast($raw as decimal(38,0)) * 1000000000) " +
                "div tot as bigint)").as(out))
        }
        var a = e.select(col("p")).distinct()
          .withColumn("a", lit(1000000000L))
        var h: org.apache.spark.sql.DataFrame = null
        // the score tables are key-count-sized (|custs| / |parts|) —
        // the side AQE auto-broadcast when it was on; with static
        // planning the hint must be explicit or the edge list shuffles
        // 4× (measured +2 s). At 100 TB the score tables outgrow a
        // broadcast and this becomes a co-partitioned shuffle join —
        // the same switch AQE would make dynamically.
        for (_ <- 1 to 2) {
          h = l1norm(e.join(broadcast(a), "p").groupBy("u")
            .agg(sum(col("a")).as("hr")), "u", "hr", "h")
          a = l1norm(e.join(broadcast(h), "u").groupBy("p")
            .agg(sum(col("h")).as("ar")), "p", "ar", "a")
        }
        val hub = h.orderBy(col("h").desc, col("u")).limit(15)
          .select(lit("hub").as("role"), col("u").as("node"),
            col("h").as("score_e9"))
        val auth = a.orderBy(col("a").desc, col("p")).limit(15)
          .select(lit("authority").as("role"), col("p").as("node"),
            col("a").as("score_e9"))
        QueryDef.digest(s, hub.unionAll(auth)
          .orderBy(col("role"), col("score_e9").desc, col("node")),
          live.toSeq: _*)
        }
      },
      Some("""WITH e AS (SELECT DISTINCT o.o_custkey AS u, l.l_partkey AS p
             |  FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey),
             |a0 AS (SELECT p, 1000000000::BIGINT AS a
             |  FROM (SELECT DISTINCT p FROM e)),
             |h1r AS (SELECT e.u, sum(a0.a)::BIGINT AS hr
             |  FROM e JOIN a0 ON e.p = a0.p GROUP BY 1),
             |h1 AS (SELECT u, ((hr::HUGEINT * 1000000000)
             |    // (SELECT sum(hr) FROM h1r))::BIGINT AS h FROM h1r),
             |a1r AS (SELECT e.p, sum(h1.h)::BIGINT AS ar
             |  FROM e JOIN h1 ON e.u = h1.u GROUP BY 1),
             |a1 AS (SELECT p, ((ar::HUGEINT * 1000000000)
             |    // (SELECT sum(ar) FROM a1r))::BIGINT AS a FROM a1r),
             |h2r AS (SELECT e.u, sum(a1.a)::BIGINT AS hr
             |  FROM e JOIN a1 ON e.p = a1.p GROUP BY 1),
             |h2 AS (SELECT u, ((hr::HUGEINT * 1000000000)
             |    // (SELECT sum(hr) FROM h2r))::BIGINT AS h FROM h2r),
             |a2r AS (SELECT e.p, sum(h2.h)::BIGINT AS ar
             |  FROM e JOIN h2 ON e.u = h2.u GROUP BY 1),
             |a2 AS (SELECT p, ((ar::HUGEINT * 1000000000)
             |    // (SELECT sum(ar) FROM a2r))::BIGINT AS a FROM a2r),
             |hub AS (SELECT 'hub' AS role, u AS node, h AS score_e9,
             |    row_number() OVER (ORDER BY h DESC, u) AS rk FROM h2),
             |auth AS (SELECT 'authority' AS role, p AS node, a AS score_e9,
             |    row_number() OVER (ORDER BY a DESC, p) AS rk FROM a2)
             |SELECT role, node, score_e9 FROM (
             |  SELECT * FROM hub WHERE rk <= 15
             |  UNION ALL SELECT * FROM auth WHERE rk <= 15)
             |ORDER BY role, score_e9 DESC, node""".stripMargin)),

    // Kleinberg burst detection (Kleinberg 2002, KDD) on the daily
    // error RATE: a 2-state min-sum automaton (base rate p0 vs burst
    // rate 1.2·p0, transition penalty γ·ln n_days with γ=0.25) smoothed
    // by the forward+backward pass, so each day's state is the one a
    // globally optimal path uses — not a greedy threshold. Binomial
    // costs are integers on a 1e-9 log grid (the per-day x·ln p terms
    // are exact BIGINT products of the two rounded log constants), so
    // both DP passes are bit-deterministic; Spark runs each pass as
    // one codegen'd `aggregate()` fold over the 30-day digest, the
    // oracle as two recursive CTEs. Facts reduce to the calendar
    // digest in one shuffle — at 100 TB the DP still folds ~30 rows.
    QueryDef("text_burst_detect", {
      (s, d) => {
        val daily = graft.sources.Tables.events(s, d)
          .groupBy(to_date(col("ts")).as("day"))
          .agg(sum(when(col("event_type") === "error", 1L).otherwise(0L))
            .as("x"), count(lit(1)).as("n"))
        daily.groupBy()
          .agg(min(col("day")).as("dmin"),
            sort_array(collect_list(struct(col("day"), col("x"), col("n"))))
              .as("ds"),
            sum(col("x")).as("sx"), sum(col("n")).as("sn"),
            count(lit(1)).as("nd"))
          .withColumn("p0",
            round(col("sx").cast("double") / col("sn").cast("double"), 9))
          .withColumn("p1", round(lit(1.2) * col("p0"), 9))
          .withColumn("lp0", round(log(col("p0")) * lit(1e9)).cast("long"))
          .withColumn("lq0",
            round(log(lit(1.0) - col("p0")) * lit(1e9)).cast("long"))
          .withColumn("lp1", round(log(col("p1")) * lit(1e9)).cast("long"))
          .withColumn("lq1",
            round(log(lit(1.0) - col("p1")) * lit(1e9)).cast("long"))
          .withColumn("g",
            round(log(col("nd").cast("double")) * lit(2.5e8)).cast("long"))
          .withColumn("cs", expr(
            """transform(ds, e -> named_struct(
              |  'k', datediff(e.day, dmin) + 1, 'x', e.x, 'n', e.n,
              |  'c0', -(e.x * lp0 + (e.n - e.x) * lq0),
              |  'c1', -(e.x * lp1 + (e.n - e.x) * lq1)))""".stripMargin))
          .withColumn("fwd", expr(
            """aggregate(slice(cs, 2, nd - 1),
              |  array(named_struct('f0', element_at(cs, 1).c0,
              |                     'f1', g + element_at(cs, 1).c1)),
              |  (acc, e) -> concat(acc, array(named_struct(
              |    'f0', least(element_at(acc, -1).f0,
              |                element_at(acc, -1).f1) + e.c0,
              |    'f1', least(element_at(acc, -1).f0 + g,
              |                element_at(acc, -1).f1) + e.c1))))""".stripMargin))
          .withColumn("bwr", expr(
            """aggregate(slice(reverse(cs), 2, nd - 1),
              |  array(named_struct('b0', element_at(reverse(cs), 1).c0,
              |                     'b1', element_at(reverse(cs), 1).c1)),
              |  (acc, e) -> concat(acc, array(named_struct(
              |    'b0', e.c0 + least(element_at(acc, -1).b0,
              |                       g + element_at(acc, -1).b1),
              |    'b1', e.c1 + least(element_at(acc, -1).b0,
              |                       element_at(acc, -1).b1)))))""".stripMargin))
          .select(explode(expr(
            """transform(sequence(1, int(nd)), t -> named_struct(
              |  'day_idx', bigint(t),
              |  'n_errors', element_at(cs, t).x,
              |  'n_events', element_at(cs, t).n,
              |  'burst',
              |    element_at(fwd, t).f1
              |      + element_at(bwr, int(nd) + 1 - t).b1
              |      - element_at(cs, t).c1
              |    < element_at(fwd, t).f0
              |      + element_at(bwr, int(nd) + 1 - t).b0
              |      - element_at(cs, t).c0))""".stripMargin)).as("r"))
          .select(col("r.day_idx").as("day_idx"),
            col("r.n_errors").as("n_errors"),
            col("r.n_events").as("n_events"), col("r.burst").as("burst"))
          .orderBy(col("day_idx"))
      }
    }, {
      Some("""WITH RECURSIVE d0 AS MATERIALIZED (
             |  SELECT datediff('day', (SELECT min(ts::DATE) FROM events),
             |      ts::DATE) + 1 AS k,
             |    sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END)::BIGINT
             |      AS x,
             |    count(*)::BIGINT AS n
             |  FROM events GROUP BY 1),
             |gl AS MATERIALIZED (SELECT
             |    round(ln(round(sum(x)::DOUBLE / sum(n)::DOUBLE, 9)) * 1e9)
             |      ::BIGINT AS lp0,
             |    round(ln(1.0 - round(sum(x)::DOUBLE / sum(n)::DOUBLE, 9))
             |      * 1e9)::BIGINT AS lq0,
             |    round(ln(round(1.2 * round(sum(x)::DOUBLE / sum(n)::DOUBLE,
             |      9), 9)) * 1e9)::BIGINT AS lp1,
             |    round(ln(1.0 - round(1.2 * round(sum(x)::DOUBLE
             |      / sum(n)::DOUBLE, 9), 9)) * 1e9)::BIGINT AS lq1,
             |    round(ln(count(*)::DOUBLE) * 2.5e8)::BIGINT AS g,
             |    count(*)::BIGINT AS nd
             |  FROM d0),
             |c AS MATERIALIZED (SELECT d0.k, d0.x, d0.n,
             |    -(d0.x * gl.lp0 + (d0.n - d0.x) * gl.lq0) AS c0,
             |    -(d0.x * gl.lp1 + (d0.n - d0.x) * gl.lq1) AS c1
             |  FROM d0, gl),
             |fwd AS (
             |  SELECT c.k, c.c0 AS f0, gl.g + c.c1 AS f1 FROM c, gl
             |    WHERE c.k = 1
             |  UNION ALL
             |  SELECT c.k, least(fwd.f0, fwd.f1) + c.c0,
             |      least(fwd.f0 + gl.g, fwd.f1) + c.c1
             |    FROM fwd JOIN c ON c.k = fwd.k + 1, gl),
             |bwd AS (
             |  SELECT c.k, c.c0 AS b0, c.c1 AS b1 FROM c, gl
             |    WHERE c.k = gl.nd
             |  UNION ALL
             |  SELECT c.k, c.c0 + least(bwd.b0, gl.g + bwd.b1),
             |      c.c1 + least(bwd.b0, bwd.b1)
             |    FROM bwd JOIN c ON c.k = bwd.k - 1, gl)
             |SELECT c.k AS day_idx, c.x AS n_errors, c.n AS n_events,
             |  (fwd.f1 + bwd.b1 - c.c1 < fwd.f0 + bwd.b0 - c.c0) AS burst
             |FROM c JOIN fwd ON fwd.k = c.k JOIN bwd ON bwd.k = c.k
             |ORDER BY day_idx""".stripMargin)
    }),

    // Holt–Winters additive with day-of-week seasonality (Winters
    // 1960) on daily total revenue — the level/trend/seasonal triple
    // the weekly-cycle forecasting every ops dashboard runs. Same
    // milli-unit integer recurrence discipline as q_holt_linear
    // (α=0.2, β=0.3, γ=0.3 as sign-safe floor-div-10 folds), with the
    // 7-slot seasonal ring carried inside ONE `aggregate()` state
    // struct — the whole recursion stays in codegen over the ~30-day
    // digest, and the oracle's recursive CTE carries the identical
    // ring as a LIST. Output: the next week's 7 forecasts with their
    // seasonal components.
    QueryDef("q_holt_winters_dow", {
      def fldivS(e: String, q: Int) = s"(($e - pmod($e, $q)) div $q)"
      val newlS = fldivS(
        "(2 * (y - element_at(acc.ss, 1)) + 8 * (acc.l + acc.b))", 10)
      val newbS = fldivS(s"(3 * ($newlS - acc.l) + 7 * acc.b)", 10)
      val newsS = fldivS(s"(3 * (y - $newlS) + 7 * element_at(acc.ss, 1))", 10)
      (s, d) => {
        graft.sources.Tables.events(s, d)
          .groupBy(to_date(col("ts")).as("day"))
          .agg((sum(col("value").cast("decimal(18,2)")) * lit(1000))
            .cast("long").as("ym"))
          .groupBy()
          .agg(sort_array(collect_list(struct(col("day"), col("ym"))))
            .as("sd"))
          .withColumn("ys", expr("transform(sd, e -> e.ym)"))
          .withColumn("nd", size(col("ys")))
          .withColumn("l0", expr(fldivS(
            "aggregate(slice(ys, 1, 7), 0L, (a, y) -> a + y)", 7)))
          .withColumn("st", expr(
            s"""aggregate(slice(ys, 8, nd - 7),
               |  named_struct('l', l0, 'b', 0L,
               |    'ss', transform(slice(ys, 1, 7), y -> y - l0)),
               |  (acc, y) -> named_struct('l', $newlS, 'b', $newbS,
               |    'ss', concat(slice(acc.ss, 2, 6), array($newsS))))"""
              .stripMargin))
          .select(col("nd"), col("st"),
            explode(sequence(lit(1), lit(7))).as("h"))
          .select(col("h").cast("long").as("h"),
            (col("st.l") + col("h") * col("st.b") +
              element_at(col("st.ss"), col("h").cast("int")))
              .as("forecast_milli"),
            element_at(col("st.ss"), col("h").cast("int"))
              .as("season_milli"))
          .orderBy(col("h"))
      }
    }, {
      def fldiv(e: String, q: Int) = s"(($e - (($e % $q + $q) % $q)) // $q)"
      val newl = fldiv("(2 * (d.ym - it.ss[1]) + 8 * (it.l + it.b))", 10)
      val newb = fldiv(s"(3 * ($newl - it.l) + 7 * it.b)", 10)
      val news = fldiv(s"(3 * (d.ym - $newl) + 7 * it.ss[1])", 10)
      Some(s"""WITH RECURSIVE daily AS MATERIALIZED (
             |  SELECT row_number() OVER (ORDER BY day) AS k, ym FROM (
             |    SELECT ts::DATE AS day,
             |        (sum(CAST(value AS DECIMAL(18,2))) * 1000)::BIGINT AS ym
             |      FROM events GROUP BY 1)),
             |nd AS (SELECT max(k)::BIGINT AS nd FROM daily),
             |init AS (SELECT ${fldiv("sum(ym)", 7)} AS l0
             |  FROM daily WHERE k <= 7),
             |it AS (
             |  SELECT 7::BIGINT AS k, init.l0 AS l, 0::BIGINT AS b,
             |      (SELECT list(ym - init.l0 ORDER BY k)
             |       FROM daily WHERE k <= 7) AS ss
             |    FROM init
             |  UNION ALL
             |  SELECT it.k + 1, $newl, $newb, it.ss[2:] || [$news]
             |    FROM it JOIN daily d ON d.k = it.k + 1, nd
             |    WHERE it.k < nd.nd)
             |SELECT h.h::BIGINT AS h,
             |  (it.l + h.h * it.b + it.ss[h.h::INT])::BIGINT
             |    AS forecast_milli,
             |  it.ss[h.h::INT]::BIGINT AS season_milli
             |FROM it, nd, (SELECT unnest(range(1, 8)) AS h) h
             |WHERE it.k = nd.nd
             |ORDER BY h""".stripMargin)
    }),

    // TextRank keyword extraction (Mihalcea & Tarau 2004, EMNLP):
    // damped PageRank over the word co-occurrence graph (adjacent
    // tokens, undirected, weight = co-occurrence count), 3 synchronous
    // rounds on a 1e6 integer grid with per-edge integral division —
    // the same exact-iteration discipline as q_pagerank, so DuckDB
    // replays it bit-identically. The graph shuffles 60-bit md5 word
    // hashes, never strings (the repo's hash-shuffle convention);
    // words rejoin only for the final top-20 display. At 100 TB the
    // edge aggregation is the one data-sized shuffle; iterations run
    // on the vocabulary-sized digest.
    QueryDef("text_textrank_keywords",
      (s, d) => {
        // r16: AQE OFF for the fixed-3-round kernel — the iterations
        // run on the vocabulary-sized edge digest where runtime
        // re-planning buys nothing, and AQE's
        // one-driver-job-per-exchange scheduling was the floor
        // (25 jobs / 1.65 s exclusive median -> see commit).
        // r17 (VERDICT item 7): the toggle is SCOPED — the data-sized
        // co-occurrence edge aggregate materializes via an eager
        // localCheckpoint with AQE ON (runtime skew/coalesce handling
        // for a hot bigram at 100 TB), then only the digest-sized
        // 3-round loop runs static. The trailing vocabulary dedup
        // stays inside the static region: its hot tokens collapse in
        // the map-side partial aggregate before any exchange.
        // r17 HotProbe: the single-file scan ran tokenize + bigram
        // explode + md5 hashing 2-wide (0.87 s max task, the query's
        // hot stage) — fan the raw docs to runtime width first
        val tk = graft.sources.Tables.load(s, d, "documents")
          .transform(QueryDef.fanOut)
          .select(graft.ext.TextAnalysis.tokens(col("text")).as("tk"))
          .filter(size(col("tk")) >= 2)
        val prs = tk.select(explode(expr(
            "transform(sequence(1, size(tk)-1), i -> " +
              "named_struct('a', element_at(tk, i), " +
              "'b', element_at(tk, i+1)))")).as("p"))
          .filter(col("p.a") =!= col("p.b"))
          .select(graft.ext.Dedup.strHash60(col("p.a")).as("ha"),
            graft.ext.Dedup.strHash60(col("p.b")).as("hb"))
        val eb = prs.select(col("ha").as("src"), col("hb").as("dst"))
          .unionAll(prs.select(col("hb").as("src"), col("ha").as("dst")))
          .groupBy(col("src"), col("dst")).agg(count(lit(1)).as("w"))
          .localCheckpoint()
        QueryDef.withConf(s, "spark.sql.adaptive.enabled" -> "false") {
        val wt = eb.groupBy(col("src")).agg(sum(col("w")).as("wt"))
        var r = wt.select(col("src").as("node"), lit(1000000L).as("sc"))
        for (_ <- 1 to 3) {
          r = eb.join(r, col("src") === col("node"))
            .join(wt.select(col("src").as("wn"), col("wt")),
              col("src") === col("wn"))
            .select(col("dst"), expr("w * sc div wt").as("contrib"))
            .groupBy(col("dst").as("node"))
            .agg((lit(150000L) + expr("17 * sum(contrib) div 20")).as("sc"))
        }
        val words = tk.select(explode(col("tk")).as("word")).distinct()
          .select(col("word"), graft.ext.Dedup.strHash60(col("word"))
            .as("node"))
        QueryDef.digest(s, r.join(words, "node")
          .orderBy(col("sc").desc, col("word")).limit(20)
          .select(col("word"), col("sc").as("score_e6"))
          .orderBy(col("score_e6").desc, col("word")))
        }
      },
      Some("""WITH t AS (SELECT string_split(lower(text), ' ') AS tk
             |  FROM documents WHERE len(string_split(lower(text), ' ')) >= 2),
             |pr AS (SELECT unnest(list_transform(range(1, len(tk)),
             |    i -> {'a': tk[i], 'b': tk[i+1]})) AS p FROM t),
             |pp AS (SELECT
             |    ('0x'||substring(md5(p.a),1,15))::BIGINT AS ha,
             |    ('0x'||substring(md5(p.b),1,15))::BIGINT AS hb
             |  FROM pr WHERE p.a <> p.b),
             |eb AS (SELECT src, dst, count(*)::BIGINT AS w FROM (
             |    SELECT ha AS src, hb AS dst FROM pp
             |    UNION ALL SELECT hb, ha FROM pp) GROUP BY 1, 2),
             |wt AS (SELECT src, sum(w)::BIGINT AS wt FROM eb GROUP BY 1),
             |r0 AS (SELECT src AS node, 1000000::BIGINT AS sc FROM wt),
             |r1 AS (SELECT eb.dst AS node,
             |    (150000 + (17 * sum(eb.w * r0.sc // wt.wt)) // 20)::BIGINT
             |      AS sc
             |  FROM eb JOIN r0 ON eb.src = r0.node
             |    JOIN wt ON eb.src = wt.src GROUP BY 1),
             |r2 AS (SELECT eb.dst AS node,
             |    (150000 + (17 * sum(eb.w * r1.sc // wt.wt)) // 20)::BIGINT
             |      AS sc
             |  FROM eb JOIN r1 ON eb.src = r1.node
             |    JOIN wt ON eb.src = wt.src GROUP BY 1),
             |r3 AS (SELECT eb.dst AS node,
             |    (150000 + (17 * sum(eb.w * r2.sc // wt.wt)) // 20)::BIGINT
             |      AS sc
             |  FROM eb JOIN r2 ON eb.src = r2.node
             |    JOIN wt ON eb.src = wt.src GROUP BY 1),
             |words AS (SELECT DISTINCT word,
             |    ('0x'||substring(md5(word),1,15))::BIGINT AS node
             |  FROM (SELECT unnest(tk) AS word FROM t))
             |SELECT w.word, r3.sc AS score_e6
             |FROM r3 JOIN words w ON w.node = r3.node
             |ORDER BY score_e6 DESC, word LIMIT 20""".stripMargin)),

    // Page's trend test (Page 1963) for an ORDERED alternative across
    // the blocked daily ranks — Friedman asks "any difference?",
    // Page asks "do the treatments trend in this specific order?"
    // (here: alphabetical event_type order). L = Σ_j j·R_j on exact
    // midrank×2 integers; the normal approximation z standardizes
    // with the closed-form mean/variance in one rounded float op.
    QueryDef("q_page_trend",
      (s, d) => {
        val daily = graft.sources.Tables.events(s, d)
          .groupBy(to_date(col("ts")).as("day"), col("event_type"))
          .agg(sum(col("value").cast("decimal(18,2)")).as("v"))
        val wd = Window.partitionBy(col("day")).orderBy(col("v"))
        val wt = Window.partitionBy(col("day"), col("v"))
        val r2 = daily.withColumn("r2",
          lit(2) * rank().over(wd) + count(lit(1)).over(wt) - lit(1))
        val ord = daily.select(col("event_type")).distinct()
          .withColumn("j",
            row_number().over(Window.orderBy(col("event_type"))))
        val l2 = r2.join(broadcast(ord), "event_type")
          .agg(sum(col("j") * col("r2")).as("l2"))
        val nk = daily.agg(countDistinct(col("day")).as("n"),
          countDistinct(col("event_type")).as("k"))
        l2.crossJoin(broadcast(nk))
          .select(col("n"), col("k"), col("l2"),
            round((col("l2").cast("double") / lit(2.0) -
              col("n").cast("double") * col("k") * (col("k") + 1) *
                (col("k") + 1) / lit(4.0)) /
              sqrt(col("n").cast("double") * col("k") * col("k") *
                (col("k") + 1) * (col("k") * col("k") - 1) / lit(144.0)),
              6).as("z_page"))
      },
      Some("""WITH daily AS (SELECT ts::DATE AS day, event_type,
             |    sum(CAST(value AS DECIMAL(18,2))) AS v
             |  FROM events GROUP BY 1, 2),
             |r AS (SELECT day, event_type,
             |    2 * rank() OVER (PARTITION BY day ORDER BY v)
             |      + count(*) OVER (PARTITION BY day, v) - 1 AS r2
             |  FROM daily),
             |ord AS (SELECT event_type, row_number() OVER
             |    (ORDER BY event_type) AS j
             |  FROM (SELECT DISTINCT event_type FROM daily)),
             |l AS (SELECT sum(ord.j * r.r2)::BIGINT AS l2
             |  FROM r JOIN ord ON r.event_type = ord.event_type),
             |nk AS (SELECT count(DISTINCT day)::BIGINT AS n,
             |    count(DISTINCT event_type)::BIGINT AS k FROM daily)
             |SELECT nk.n, nk.k, l.l2,
             |  round((l.l2::DOUBLE / 2.0
             |      - nk.n::DOUBLE * nk.k * (nk.k + 1) * (nk.k + 1) / 4.0)
             |    / sqrt(nk.n::DOUBLE * nk.k * nk.k * (nk.k + 1)
             |        * (nk.k * nk.k - 1) / 144.0), 6) AS z_page
             |FROM l, nk""".stripMargin)),

    // Cochran's Q (Cochran 1950) — the k-treatment extension of
    // McNemar on binary per-user outcomes: "hit a value>180 event of
    // type j this month" across the three engagement types. Q =
    // (k−1)·(k·ΣC_j² − N²)/(k·N − ΣR_u²) is exact-integer until one
    // rounded float division; row/column totals come from one
    // per-user shuffle.
    QueryDef("q_cochran_q",
      (s, d) => {
        val x = graft.sources.Tables.events(s, d)
          .filter(col("event_type").isin("view", "click", "purchase"))
          .groupBy(col("user_id"), col("event_type"))
          .agg(max(when(col("value") > 180, 1L).otherwise(0L)).as("x"))
        val rows = x.groupBy(col("user_id"))
          .agg(sum(col("x")).as("ru"))
          .agg(sum(col("ru")).as("ntot"),
            sum(col("ru") * col("ru")).as("sr2"),
            count(lit(1)).as("n_users"))
        val cols = x.groupBy(col("event_type"))
          .agg(sum(col("x")).as("cj"))
          .agg(sum(col("cj") * col("cj")).as("sc2"),
            count(lit(1)).as("k"))
        rows.crossJoin(broadcast(cols))
          .select(col("n_users"), col("k"), col("ntot"),
            round(((col("k") - 1) *
              (col("k") * col("sc2") - col("ntot") * col("ntot")))
              .cast("double") /
              (col("k") * col("ntot") - col("sr2")).cast("double"), 6)
              .as("q_cochran"))
      },
      Some("""WITH x AS (SELECT user_id, event_type,
             |    max(CASE WHEN value > 180 THEN 1 ELSE 0 END)::BIGINT AS x
             |  FROM events
             |  WHERE event_type IN ('view', 'click', 'purchase')
             |  GROUP BY 1, 2),
             |r AS (SELECT sum(ru)::BIGINT AS ntot,
             |    sum(ru * ru)::BIGINT AS sr2, count(*)::BIGINT AS n_users
             |  FROM (SELECT user_id, sum(x) AS ru FROM x GROUP BY 1)),
             |c AS (SELECT sum(cj * cj)::BIGINT AS sc2,
             |    count(*)::BIGINT AS k
             |  FROM (SELECT event_type, sum(x) AS cj FROM x GROUP BY 1))
             |SELECT r.n_users, c.k, r.ntot,
             |  round(((c.k - 1) * (c.k * c.sc2 - r.ntot * r.ntot))::DOUBLE
             |    / (c.k * r.ntot - r.sr2)::DOUBLE, 6) AS q_cochran
             |FROM r, c""".stripMargin)),

    // Global clustering coefficient (transitivity): 3·triangles /
    // wedges over the co-purchase graph — the one-number "how cliquey
    // is co-purchasing" companion to q_triangle_count. Triangles via
    // the oriented two-join (each triangle counted once), wedges as
    // Σ deg·(deg−1)/2 from the degree digest; the division is the
    // single rounded float op.
    QueryDef("q_clustering_coeff",
      (s, d) => {
        val e = s.read.parquet(SqlQueries.copurchaseEdgesOf(s, d))
        val tri = e
          .join(e.select(col("p1").as("b1"), col("p2").as("c1")),
            col("p2") === col("b1"))
          .join(e.select(col("p1").as("a2"), col("p2").as("c2")),
            col("p1") === col("a2") && col("c1") === col("c2"))
          .agg(count(lit(1)).as("n_triangles"))
        val wed = e.select(col("p1").as("n")).unionAll(
            e.select(col("p2").as("n")))
          .groupBy(col("n")).agg(count(lit(1)).as("deg"))
          .agg(sum(col("deg") * (col("deg") - 1) / lit(2)).cast("long")
            .as("n_wedges"))
        tri.crossJoin(broadcast(wed))
          .select(col("n_triangles"), col("n_wedges"),
            round(lit(3.0) * col("n_triangles").cast("double") /
              col("n_wedges").cast("double"), 6).as("transitivity"))
      },
      Some("""WITH pp AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
             |e AS (SELECT a.l_partkey AS p1, b.l_partkey AS p2
             |  FROM pp a JOIN pp b
             |    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
             |  GROUP BY 1, 2 HAVING count(*) >= 2),
             |tri AS (SELECT count(*)::BIGINT AS n_triangles
             |  FROM e e1 JOIN e e2 ON e1.p2 = e2.p1
             |    JOIN e e3 ON e1.p1 = e3.p1 AND e2.p2 = e3.p2),
             |deg AS (SELECT n, count(*)::BIGINT AS deg FROM (
             |    SELECT p1 AS n FROM e UNION ALL SELECT p2 FROM e)
             |  GROUP BY 1),
             |wed AS (SELECT (sum(deg * (deg - 1) / 2))::BIGINT AS n_wedges
             |  FROM deg)
             |SELECT tri.n_triangles, wed.n_wedges,
             |  round(3.0 * tri.n_triangles::DOUBLE / wed.n_wedges::DOUBLE, 6)
             |    AS transitivity
             |FROM tri, wed""".stripMargin)),

    // Wilcoxon signed-rank test (Wilcoxon 1945) on the paired daily
    // view-vs-click revenue difference — the nonparametric paired
    // t-test. Differences are exact milli integers, |d| ranks use
    // midrank×2 (ties exact), W⁺ accumulates in ×2 units, and the
    // normal approximation carries the tie-correction term
    // Σ(t³−t)/48 — everything integer until one rounded z. The one
    // ordered window runs over the ≤31-row day digest.
    QueryDef("q_wilcoxon_signed_rank",
      (s, d) => {
        val daily = graft.sources.Tables.events(s, d)
          .filter(col("event_type").isin("view", "click"))
          .groupBy(to_date(col("ts")).as("day"))
          .agg(((sum(when(col("event_type") === "view",
              col("value").cast("decimal(18,2)"))) -
            sum(when(col("event_type") === "click",
              col("value").cast("decimal(18,2)")))) * lit(1000))
            .cast("long").as("dm"))
          .filter(col("dm") =!= 0)
        val wr = Window.orderBy(abs(col("dm")))
        val wt = Window.partitionBy(abs(col("dm")))
        val r = daily
          .withColumn("r2",
            lit(2) * rank().over(wr) + count(lit(1)).over(wt) - lit(1))
        val ties = daily.groupBy(abs(col("dm")).as("ad"))
          .agg(count(lit(1)).as("t"))
          .agg(sum(col("t") * col("t") * col("t") - col("t")).as("tc"))
        r.agg(count(lit(1)).as("n"),
            sum(when(col("dm") > 0, col("r2")).otherwise(0L)).as("w_plus2"))
          .crossJoin(broadcast(ties))
          .select(col("n"), col("w_plus2"),
            round((col("w_plus2").cast("double") / lit(2.0) -
              (col("n") * (col("n") + 1)).cast("double") / lit(4.0)) /
              sqrt((col("n") * (col("n") + 1) * (lit(2) * col("n") + 1))
                .cast("double") / lit(24.0) -
                col("tc").cast("double") / lit(48.0)), 6).as("z_wilcoxon"))
      },
      Some("""WITH daily AS (SELECT ts::DATE AS day,
             |    ((sum(CASE WHEN event_type = 'view'
             |          THEN CAST(value AS DECIMAL(18,2)) END)
             |      - sum(CASE WHEN event_type = 'click'
             |          THEN CAST(value AS DECIMAL(18,2)) END))
             |      * 1000)::BIGINT AS dm
             |  FROM events WHERE event_type IN ('view', 'click')
             |  GROUP BY 1 HAVING ((sum(CASE WHEN event_type = 'view'
             |          THEN CAST(value AS DECIMAL(18,2)) END)
             |      - sum(CASE WHEN event_type = 'click'
             |          THEN CAST(value AS DECIMAL(18,2)) END))
             |      * 1000)::BIGINT <> 0),
             |r AS (SELECT dm,
             |    2 * rank() OVER (ORDER BY abs(dm))
             |      + count(*) OVER (PARTITION BY abs(dm)) - 1 AS r2
             |  FROM daily),
             |ties AS (SELECT sum(t * t * t - t)::BIGINT AS tc FROM (
             |    SELECT abs(dm) AS ad, count(*)::BIGINT AS t
             |    FROM daily GROUP BY 1)),
             |w AS (SELECT count(*)::BIGINT AS n,
             |    sum(CASE WHEN dm > 0 THEN r2 ELSE 0 END)::BIGINT AS w_plus2
             |  FROM r)
             |SELECT w.n, w.w_plus2,
             |  round((w.w_plus2::DOUBLE / 2.0
             |      - (w.n * (w.n + 1))::DOUBLE / 4.0)
             |    / sqrt((w.n * (w.n + 1) * (2 * w.n + 1))::DOUBLE / 24.0
             |        - ties.tc::DOUBLE / 48.0), 6) AS z_wilcoxon
             |FROM w, ties""".stripMargin)),

    // Two-sample Anderson–Darling (Scholz & Stephens 1987, JASA;
    // midrank/ties version, k=2) between the click and error value
    // distributions — the tail-sensitive companion to q_ks_test in
    // the drift-detection family. On the 0.1-quantized value grid
    // every D_ij = N·M2_ij − n_i·H2_j and denominator E_j are EXACT
    // BIGINTs (×2 midrank units cancel); each term's float value is a
    // pure IEEE expression of those ints, quantized to 1e6 before the
    // exact integer sum, so partition order can't drift the total.
    // The digest is value-domain-sized (≤ ~5k rows), never
    // stream-sized.
    QueryDef("q_anderson_darling_2s",
      (s, d) => {
        val f = graft.sources.Tables.events(s, d)
          .filter(col("event_type").isin("click", "error"))
          .select(col("event_type"),
            floor(col("value") * 10).cast("long").as("v10"))
        val c = f.groupBy(col("v10"))
          .agg(sum(when(col("event_type") === "click", 1L).otherwise(0L))
            .as("na"),
            sum(when(col("event_type") === "error", 1L).otherwise(0L))
            .as("nb"))
        val w = Window.orderBy(col("v10"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        val tot = broadcast(c.agg(sum(col("na")).as("n"),
          sum(col("nb")).as("m"), sum(col("na") + col("nb")).as("nn")))
        val terms = c
          .withColumn("h", col("na") + col("nb"))
          .withColumn("ca", sum(col("na")).over(w))
          .withColumn("cb", sum(col("nb")).over(w))
          .withColumn("cn", sum(col("na") + col("nb")).over(w))
          .crossJoin(tot)
          .select(col("h"), col("n"), col("m"), col("nn"),
            (col("nn") * (lit(2) * col("ca") - col("na")) -
              col("n") * (lit(2) * col("cn") - col("h"))).as("da"),
            (col("nn") * (lit(2) * col("cb") - col("nb")) -
              col("m") * (lit(2) * col("cn") - col("h"))).as("db"),
            ((lit(2) * col("cn") - col("h")) *
              (lit(2) * col("nn") - (lit(2) * col("cn") - col("h"))) -
              col("nn") * col("h")).as("e"))
          .filter(col("e") > 0)
        terms.groupBy(col("n"), col("m"), col("nn"))
          .agg(sum(round(col("h").cast("double") *
              col("da").cast("double") * col("da").cast("double") /
              col("e").cast("double") * lit(1e6))).cast("long").as("sa_e6"),
            sum(round(col("h").cast("double") *
              col("db").cast("double") * col("db").cast("double") /
              col("e").cast("double") * lit(1e6))).cast("long").as("sb_e6"))
          .select(col("n").as("n_click"), col("m").as("n_error"),
            round((col("nn") - 1).cast("double") / col("nn").cast("double") /
              col("nn").cast("double") *
              (col("sa_e6").cast("double") / lit(1e6) /
                col("n").cast("double") +
                col("sb_e6").cast("double") / lit(1e6) /
                  col("m").cast("double")), 6).as("ad2"))
      },
      Some("""WITH f AS (SELECT event_type, floor(value * 10)::BIGINT AS v10
             |  FROM events WHERE event_type IN ('click', 'error')),
             |c AS (SELECT v10,
             |    sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
             |      ::BIGINT AS na,
             |    sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END)
             |      ::BIGINT AS nb
             |  FROM f GROUP BY 1),
             |cum AS (SELECT v10, na, nb, na + nb AS h,
             |    sum(na) OVER w AS ca, sum(nb) OVER w AS cb,
             |    sum(na + nb) OVER w AS cn
             |  FROM c WINDOW w AS (ORDER BY v10
             |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
             |tot AS (SELECT sum(na)::BIGINT AS n, sum(nb)::BIGINT AS m,
             |    sum(na + nb)::BIGINT AS nn FROM c),
             |terms AS (SELECT cum.h,
             |    (tot.nn * (2 * cum.ca - cum.na)
             |      - tot.n * (2 * cum.cn - cum.h))::BIGINT AS da,
             |    (tot.nn * (2 * cum.cb - cum.nb)
             |      - tot.m * (2 * cum.cn - cum.h))::BIGINT AS db,
             |    ((2 * cum.cn - cum.h)
             |        * (2 * tot.nn - (2 * cum.cn - cum.h))
             |      - tot.nn * cum.h)::BIGINT AS e
             |  FROM cum, tot),
             |s AS (SELECT
             |    sum(round(h::DOUBLE * da::DOUBLE * da::DOUBLE
             |      / e::DOUBLE * 1e6))::BIGINT AS sa_e6,
             |    sum(round(h::DOUBLE * db::DOUBLE * db::DOUBLE
             |      / e::DOUBLE * 1e6))::BIGINT AS sb_e6
             |  FROM terms WHERE e > 0)
             |SELECT tot.n AS n_click, tot.m AS n_error,
             |  round((tot.nn - 1)::DOUBLE / tot.nn::DOUBLE / tot.nn::DOUBLE
             |    * (sa_e6 / 1e6 / tot.n::DOUBLE
             |       + sb_e6 / 1e6 / tot.m::DOUBLE), 6) AS ad2
             |FROM s, tot""".stripMargin)),

    // Paired t-test on the same daily view-vs-click differences the
    // Wilcoxon ranks — the parametric twin. Mean and variance come
    // from exact milli-integer sums (Σd, Σd² BIGINT), so
    // t = d̄·√n/s_d is one float expression of four exact integers,
    // rounded once.
    QueryDef("q_ttest_paired",
      (s, d) => {
        graft.sources.Tables.events(s, d)
          .filter(col("event_type").isin("view", "click"))
          .groupBy(to_date(col("ts")).as("day"))
          .agg(((sum(when(col("event_type") === "view",
              col("value").cast("decimal(18,2)"))) -
            sum(when(col("event_type") === "click",
              col("value").cast("decimal(18,2)")))) * lit(1000))
            .cast("long").as("dm"))
          .agg(count(lit(1)).as("n"), sum(col("dm")).as("sd"),
            sum(col("dm") * col("dm")).as("sq"))
          .select(col("n"), (col("n") - 1).as("df"),
            round((col("sd").cast("double") / col("n").cast("double")) /
              sqrt(((col("sq").cast("double") -
                col("sd").cast("double") * col("sd").cast("double") /
                  col("n").cast("double")) /
                (col("n") - 1).cast("double")) /
                col("n").cast("double")), 6).as("t_paired"))
      },
      Some("""WITH daily AS (SELECT ts::DATE AS day,
             |    ((sum(CASE WHEN event_type = 'view'
             |          THEN CAST(value AS DECIMAL(18,2)) END)
             |      - sum(CASE WHEN event_type = 'click'
             |          THEN CAST(value AS DECIMAL(18,2)) END))
             |      * 1000)::BIGINT AS dm
             |  FROM events WHERE event_type IN ('view', 'click')
             |  GROUP BY 1),
             |g AS (SELECT count(*)::BIGINT AS n, sum(dm)::BIGINT AS sd,
             |    sum(dm * dm)::BIGINT AS sq FROM daily)
             |SELECT n, n - 1 AS df,
             |  round((sd::DOUBLE / n::DOUBLE)
             |    / sqrt(((sq::DOUBLE - sd::DOUBLE * sd::DOUBLE / n::DOUBLE)
             |        / (n - 1)::DOUBLE) / n::DOUBLE), 6) AS t_paired
             |FROM g""".stripMargin)),

    // Exact sign test on the same paired daily differences — the
    // assumption-free member of the family, with an EXACT two-sided
    // binomial p-value: Σ C(n,j) over the tail in pure BIGINT
    // arithmetic (n ≤ 31 days, so C(n,j) and the 2^n denominator are
    // exact; the 2·Σ/2^n cap at 1 is the only float step). Both
    // engines fold the same C(n,j) = C(n,j−1)·(n−j+1)/j integer
    // recurrence, so the p-value matches to the last bit.
    QueryDef("q_sign_test",
      (s, d) => {
        val daily = graft.sources.Tables.events(s, d)
          .filter(col("event_type").isin("view", "click"))
          .groupBy(to_date(col("ts")).as("day"))
          .agg(((sum(when(col("event_type") === "view",
              col("value").cast("decimal(18,2)"))) -
            sum(when(col("event_type") === "click",
              col("value").cast("decimal(18,2)")))) * lit(1000))
            .cast("long").as("dm"))
          .filter(col("dm") =!= 0)
        daily.agg(count(lit(1)).as("n"),
            sum(when(col("dm") > 0, 1L).otherwise(0L)).as("n_pos"))
          .withColumn("kk",
            least(col("n_pos"), col("n") - col("n_pos")).cast("int"))
          // tail = sum_{j=0..kk} C(n, j) via the exact integer
          // recurrence folded over j (n<=31 keeps C within int64).
          // Spark's sequence(1, 0) DESCENDS instead of being empty,
          // so the kk=0 tail (just C(n,0)=1) short-circuits.
          .withColumn("tail", expr(
            """CASE WHEN kk < 1 THEN 1L ELSE
              |aggregate(sequence(1, kk),
              |  named_struct('c', 1L, 's', 1L),
              |  (acc, j) -> named_struct(
              |    'c', acc.c * (int(n) - j + 1) div j,
              |    's', acc.s + acc.c * (int(n) - j + 1) div j),
              |  acc -> acc.s) END""".stripMargin))
          .select(col("n"), col("n_pos"),
            round(least(lit(2.0) * col("tail").cast("double") /
              pow(lit(2.0), col("n").cast("double")), lit(1.0)), 6)
              .as("p_two_sided"))
      },
      Some("""WITH RECURSIVE daily AS (SELECT ts::DATE AS day,
             |    ((sum(CASE WHEN event_type = 'view'
             |          THEN CAST(value AS DECIMAL(18,2)) END)
             |      - sum(CASE WHEN event_type = 'click'
             |          THEN CAST(value AS DECIMAL(18,2)) END))
             |      * 1000)::BIGINT AS dm
             |  FROM events WHERE event_type IN ('view', 'click')
             |  GROUP BY 1 HAVING ((sum(CASE WHEN event_type = 'view'
             |          THEN CAST(value AS DECIMAL(18,2)) END)
             |      - sum(CASE WHEN event_type = 'click'
             |          THEN CAST(value AS DECIMAL(18,2)) END))
             |      * 1000)::BIGINT <> 0),
             |g AS (SELECT count(*)::BIGINT AS n,
             |    sum(CASE WHEN dm > 0 THEN 1 ELSE 0 END)::BIGINT AS n_pos
             |  FROM daily),
             |kk AS (SELECT n, n_pos, least(n_pos, n - n_pos) AS kk FROM g),
             |binom AS (
             |  SELECT 0::BIGINT AS j, 1::BIGINT AS c, 1::BIGINT AS s, kk.kk
             |    FROM kk
             |  UNION ALL
             |  SELECT b.j + 1, b.c * (g.n - b.j) // (b.j + 1),
             |      b.s + b.c * (g.n - b.j) // (b.j + 1), b.kk
             |    FROM binom b, g WHERE b.j < b.kk)
             |SELECT g.n, g.n_pos,
             |  round(least(2.0 * b.s::DOUBLE / 2 ** g.n::DOUBLE, 1.0), 6)
             |    AS p_two_sided
             |FROM g, kk, binom b WHERE b.j = kk.kk""".stripMargin)),

    // Kuiper's test (Kuiper 1960) between the click and error value
    // distributions: V = D⁺ + D⁻ — equally sensitive across the whole
    // support (KS under-weights the tails and any cyclic shift).
    // Same exact-count CDF digest as q_ks_test; the two directed
    // suprema are maxima of per-cell float expressions of exact ints.
    QueryDef("q_kuiper_test",
      (s, d) => {
        val ev = graft.sources.Tables.events(s, d)
          .filter(col("event_type").isin("click", "error"))
          .select(col("event_type"),
            floor(col("value") * 10).cast("long").as("v10"))
        val cnt = ev.groupBy(col("v10"))
          .agg(sum(when(col("event_type") === "click", 1L).otherwise(0L))
            .as("na"),
            sum(when(col("event_type") === "error", 1L).otherwise(0L))
            .as("nb"))
        val w = Window.orderBy(col("v10"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        val tot = broadcast(cnt.agg(sum(col("na")).as("ta"),
          sum(col("nb")).as("tb")))
        cnt.withColumn("ca", sum(col("na")).over(w))
          .withColumn("cb", sum(col("nb")).over(w))
          .crossJoin(tot)
          .agg(max(col("ta")).as("n_click"), max(col("tb")).as("n_error"),
            round(max(col("ca").cast("double") / col("ta").cast("double") -
                col("cb").cast("double") / col("tb").cast("double")) +
              max(col("cb").cast("double") / col("tb").cast("double") -
                col("ca").cast("double") / col("ta").cast("double")), 6)
              .as("kuiper_v"))
      },
      Some("""WITH f AS (SELECT event_type, floor(value * 10)::BIGINT AS v10
             |  FROM events WHERE event_type IN ('click', 'error')),
             |c AS (SELECT v10,
             |    sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
             |      ::BIGINT AS na,
             |    sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END)
             |      ::BIGINT AS nb
             |  FROM f GROUP BY 1),
             |cum AS (SELECT v10, sum(na) OVER w AS ca, sum(nb) OVER w AS cb
             |  FROM c WINDOW w AS (ORDER BY v10
             |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
             |tot AS (SELECT sum(na)::BIGINT AS ta, sum(nb)::BIGINT AS tb
             |  FROM c)
             |SELECT tot.ta AS n_click, tot.tb AS n_error,
             |  round(max(ca::DOUBLE / ta::DOUBLE - cb::DOUBLE / tb::DOUBLE)
             |    + max(cb::DOUBLE / tb::DOUBLE - ca::DOUBLE / ta::DOUBLE), 6)
             |    AS kuiper_v
             |FROM cum, tot GROUP BY tot.ta, tot.tb""".stripMargin)),

    // Two-sample Cramér–von Mises (Anderson 1962, grid/ties form):
    // T = Σ h·(m·ca − n·cb)²/(n·m·N²) − (4nm − N)/(6N²)... the
    // L2-distance member of the drift family (KS = sup, AD =
    // tail-weighted L2, CvM = plain L2). The per-cell integrand
    // h·(m·ca − n·cb)² is exact DECIMAL(38,0) (m·ca reaches ~4e8 at
    // sf0.1, squared ~1e17, times h ~1e3 → 1e20 clears int64), summed
    // exactly; the two closing divisions are the only float ops.
    QueryDef("q_cvm_test",
      (s, d) => {
        val ev = graft.sources.Tables.events(s, d)
          .filter(col("event_type").isin("click", "error"))
          .select(col("event_type"),
            floor(col("value") * 10).cast("long").as("v10"))
        val cnt = ev.groupBy(col("v10"))
          .agg(sum(when(col("event_type") === "click", 1L).otherwise(0L))
            .as("na"),
            sum(when(col("event_type") === "error", 1L).otherwise(0L))
            .as("nb"))
        val w = Window.orderBy(col("v10"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        val tot = broadcast(cnt.agg(sum(col("na")).as("n"),
          sum(col("nb")).as("m")))
        cnt.withColumn("h", col("na") + col("nb"))
          .withColumn("ca", sum(col("na")).over(w))
          .withColumn("cb", sum(col("nb")).over(w))
          .crossJoin(tot)
          .groupBy(col("n"), col("m"))
          .agg(sum(expr("cast(h as decimal(38,0)) * (m * ca - n * cb)" +
            " * (m * ca - n * cb)")).as("u"))
          .select(col("n").as("n_click"), col("m").as("n_error"),
            round(col("u").cast("double") /
              (col("n").cast("double") * col("m").cast("double") *
                (col("n") + col("m")).cast("double") *
                (col("n") + col("m")).cast("double")) -
              (lit(4.0) * col("n").cast("double") * col("m").cast("double") -
                (col("n") + col("m")).cast("double")) /
              (lit(6.0) * (col("n") + col("m")).cast("double") *
                (col("n") + col("m")).cast("double")), 6).as("cvm_t"))
      },
      Some("""WITH f AS (SELECT event_type, floor(value * 10)::BIGINT AS v10
             |  FROM events WHERE event_type IN ('click', 'error')),
             |c AS (SELECT v10,
             |    sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
             |      ::BIGINT AS na,
             |    sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END)
             |      ::BIGINT AS nb
             |  FROM f GROUP BY 1),
             |cum AS (SELECT na + nb AS h,
             |    sum(na) OVER w AS ca, sum(nb) OVER w AS cb
             |  FROM c WINDOW w AS (ORDER BY v10
             |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
             |tot AS (SELECT sum(na)::BIGINT AS n, sum(nb)::BIGINT AS m
             |  FROM c),
             |u AS (SELECT sum(h::HUGEINT
             |      * (tot.m * ca - tot.n * cb)::HUGEINT
             |      * (tot.m * ca - tot.n * cb)::HUGEINT) AS u
             |  FROM cum, tot)
             |SELECT tot.n AS n_click, tot.m AS n_error,
             |  round(u.u::DOUBLE / (tot.n::DOUBLE * tot.m::DOUBLE
             |      * (tot.n + tot.m)::DOUBLE * (tot.n + tot.m)::DOUBLE)
             |    - (4.0 * tot.n::DOUBLE * tot.m::DOUBLE
             |        - (tot.n + tot.m)::DOUBLE)
             |      / (6.0 * (tot.n + tot.m)::DOUBLE
             |          * (tot.n + tot.m)::DOUBLE), 6) AS cvm_t
             |FROM u, tot""".stripMargin)),

    // Deterministic RANSAC line fit (Fischler & Bolles 1981) on the
    // daily-revenue-vs-day series — the outlier-robust companion to
    // q_theil_sen_daily. The "random" sample pairs are md5-derived
    // from the iteration index (64 iterations, the same seeded-hash
    // discipline as the LSH planes), the inlier test is an exact
    // cross-multiplied integer inequality (tolerance = 5% of mean
    // daily revenue, data-derived so it is sf-independent), and the
    // final refit is closed-form OLS on exact integer sums with
    // sign-safe floor division. Everything after the one daily
    // shuffle is a 64×30 digest product.
    QueryDef("q_ransac_line",
      (s, d) => {
        def fldiv(e: String, q: String) = s"(($e - pmod($e, $q)) div $q)"
        val days = graft.sources.Tables.events(s, d)
          .groupBy(to_date(col("ts")).as("day"))
          .agg((sum(col("value").cast("decimal(18,2)")) * lit(1000))
            .cast("long").as("ym"))
          .withColumn("x",
            row_number().over(Window.orderBy(col("day"))) - lit(1))
          .select(col("x").cast("long").as("x"), col("ym"))
        val n = broadcast(days.agg(count(lit(1)).as("n"),
          expr("sum(ym) div (count(1) * 20)").as("tol")))
        val picks = s.range(1, 65).toDF("t").crossJoin(n)
          .withColumn("hi", pmod(graft.ext.Dedup.strHash60(
            concat(lit("ransac:a:"), col("t"))), col("n")))
          .withColumn("i", col("hi"))
          .withColumn("j", pmod(col("hi") + lit(1) +
            pmod(graft.ext.Dedup.strHash60(
              concat(lit("ransac:b:"), col("t"))), col("n") - 1), col("n")))
        val lines = picks
          .join(days.select(col("x").as("xi"), col("ym").as("yi")),
            col("i") === col("xi"))
          .join(days.select(col("x").as("xj"), col("ym").as("yj")),
            col("j") === col("xj"))
          .select(col("t"), col("xi"), col("yi"), col("xj"), col("yj"),
            col("tol"))
        val inlier = abs((col("ym") - col("yi")) * (col("xj") - col("xi")) -
          (col("yj") - col("yi")) * (col("x") - col("xi"))) <=
          col("tol") * abs(col("xj") - col("xi"))
        val best = lines.join(days, inlier)
          .groupBy(col("t")).agg(count(lit(1)).as("n_in"))
          .orderBy(col("n_in").desc, col("t")).limit(1)
        val fit = best.join(lines, "t").join(days, inlier)
          .groupBy(col("t"), col("n_in"))
          .agg(count(lit(1)).as("m"), sum(col("x")).as("sx"),
            sum(col("ym")).as("sy"), sum(col("x") * col("x")).as("sxx"),
            sum(col("x") * col("ym")).as("sxy"))
        fit.select(col("t").as("best_iter"), col("n_in").as("n_inliers"),
            expr("m * sxy - sx * sy").as("num"),
            expr("m * sxx - sx * sx").as("den"),
            col("sy"), col("sx"), col("m"))
          .select(col("best_iter"), col("n_inliers"),
            expr(fldiv("(num * 1000000)", "den")).as("slope_ppm"),
            expr(fldiv("(sy * den - num * sx)", "(m * den)"))
              .as("intercept_milli"))
      },
      Some("""WITH days AS (SELECT row_number() OVER (ORDER BY day) - 1
             |    AS x, ym FROM (
             |    SELECT ts::DATE AS day,
             |      (sum(CAST(value AS DECIMAL(18,2))) * 1000)::BIGINT AS ym
             |    FROM events GROUP BY 1)),
             |n AS (SELECT count(*)::BIGINT AS n,
             |    (sum(ym) // (count(*) * 20))::BIGINT AS tol FROM days),
             |iters AS (SELECT unnest(range(1, 65)) AS t),
             |picks AS (SELECT t,
             |    ('0x'||substring(md5('ransac:a:'||t::VARCHAR),1,15))::BIGINT
             |      % n.n AS i,
             |    (('0x'||substring(md5('ransac:a:'||t::VARCHAR),1,15))::BIGINT
             |        % n.n
             |     + 1 +
             |     ('0x'||substring(md5('ransac:b:'||t::VARCHAR),1,15))::BIGINT
             |        % (n.n - 1)) % n.n AS j
             |  FROM iters, n),
             |lines AS (SELECT p.t, a.x AS xi, a.ym AS yi, b.x AS xj,
             |    b.ym AS yj
             |  FROM picks p JOIN days a ON a.x = p.i
             |    JOIN days b ON b.x = p.j),
             |cnt AS (SELECT l.t, count(*)::BIGINT AS n_in
             |  FROM lines l, n, days k
             |  WHERE abs((k.ym - l.yi) * (l.xj - l.xi)
             |        - (l.yj - l.yi) * (k.x - l.xi))
             |      <= n.tol * abs(l.xj - l.xi)
             |  GROUP BY 1),
             |best AS (SELECT t, n_in FROM cnt
             |  ORDER BY n_in DESC, t LIMIT 1),
             |inl AS (SELECT k.x, k.ym FROM best b, n, lines l, days k
             |  WHERE l.t = b.t
             |    AND abs((k.ym - l.yi) * (l.xj - l.xi)
             |          - (l.yj - l.yi) * (k.x - l.xi))
             |        <= n.tol * abs(l.xj - l.xi)),
             |fit AS (SELECT count(*)::BIGINT AS m, sum(x)::BIGINT AS sx,
             |    sum(ym)::BIGINT AS sy, sum(x * x)::BIGINT AS sxx,
             |    sum(x * ym)::BIGINT AS sxy FROM inl),
             |ols AS (SELECT m, m * sxy - sx * sy AS num,
             |    m * sxx - sx * sx AS den, sy, sx FROM fit)
             |SELECT b.t AS best_iter, b.n_in AS n_inliers,
             |  (((num * 1000000)
             |    - (((num * 1000000) % den + den) % den)) // den)::BIGINT
             |    AS slope_ppm,
             |  (((sy * den - num * sx)
             |    - (((sy * den - num * sx) % (m * den) + m * den) % (m * den)))
             |   // (m * den))::BIGINT AS intercept_milli
             |FROM best b, ols""".stripMargin)),

    // Dickey–Fuller unit-root test (Dickey & Fuller 1979), lag-0
    // form: regress Δy_t on y_{t−1} over the daily-revenue series and
    // report the t-statistic of ρ — "is the series mean-reverting or
    // a random walk", the stationarity gate before any ARMA-family
    // model. With S*xx = mΣx²−(Σx)² etc. the statistic collapses to
    // t = S*xy·√((m−2)/(S*xx·S*yy − S*xy²)) — three exact
    // DECIMAL(38,0) sums on EXACT centi-unit integers (the ×100
    // scale makes the decimal→BIGINT cast lossless — Spark truncates
    // a fractional decimal while DuckDB rounds it; the cross product
    // stays inside 38 digits past sf100) and one rounded float
    // expression.
    QueryDef("q_dickey_fuller",
      (s, d) => {
        val daily = graft.sources.Tables.events(s, d)
          .groupBy(to_date(col("ts")).as("day"))
          .agg((sum(col("value").cast("decimal(18,2)")) * lit(100))
            .cast("long").as("y"))
        val w = Window.orderBy(col("day"))
        val pairs = daily
          .withColumn("yp", lag(col("y"), 1).over(w))
          .filter(col("yp").isNotNull)
          .select(col("yp").as("x"), (col("y") - col("yp")).as("dy"))
        pairs.agg(count(lit(1)).as("m"),
            sum(col("x").cast("decimal(38,0)")).as("sx"),
            sum(col("dy").cast("decimal(38,0)")).as("sy"),
            sum((col("x") * col("x")).cast("decimal(38,0)")).as("sxx"),
            sum((col("x") * col("dy")).cast("decimal(38,0)")).as("sxy"),
            sum((col("dy") * col("dy")).cast("decimal(38,0)")).as("syy"))
          .select(col("m").as("n_diffs"),
            // both engines' integral division truncates toward zero
            // (DuckDB -7//2 = Spark -7 div 2 = -3), so the negative
            // rho needs no floor guard
            expr("cast((m * sxy - sx * sy) * 1000000 div " +
              "(m * sxx - sx * sx) as bigint)").as("rho_ppm"),
            round(expr("cast(m * sxy - sx * sy as double)") *
              sqrt((col("m") - 2).cast("double") /
                expr("cast((m * sxx - sx * sx) * (m * syy - sy * sy) " +
                  "- (m * sxy - sx * sy) * (m * sxy - sx * sy) as double)")),
              6).as("t_df"))
      },
      Some("""WITH daily AS (SELECT ts::DATE AS day,
             |    (sum(CAST(value AS DECIMAL(18,2))) * 100)::BIGINT AS y
             |  FROM events GROUP BY 1),
             |p AS (SELECT lag(y) OVER (ORDER BY day) AS x,
             |    y - lag(y) OVER (ORDER BY day) AS dy
             |  FROM daily),
             |g AS (SELECT count(*)::BIGINT AS m, sum(x)::HUGEINT AS sx,
             |    sum(dy)::HUGEINT AS sy, sum(x * x)::HUGEINT AS sxx,
             |    sum(x * dy)::HUGEINT AS sxy, sum(dy * dy)::HUGEINT AS syy
             |  FROM p WHERE x IS NOT NULL)
             |SELECT m AS n_diffs,
             |  ((m * sxy - sx * sy) * 1000000 // (m * sxx - sx * sx))::BIGINT
             |    AS rho_ppm,
             |  round((m * sxy - sx * sy)::DOUBLE
             |    * sqrt((m - 2)::DOUBLE
             |      / ((m * sxx - sx * sx) * (m * syy - sy * sy)
             |         - (m * sxy - sx * sy) * (m * sxy - sx * sy))::DOUBLE),
             |    6) AS t_df
             |FROM g""".stripMargin)),

    // Per-image red-channel histogram entropy — the intensity-
    // diversity quality probe (blank/flat frames → 0, noise fields →
    // ln 256 ≈ 5.545). The Spark side does REAL codec work (PNG
    // decode via javax.imageio, one decode per row inside
    // mapPartitions); the oracle never decodes a byte — the synthetic
    // pixel field is the seeded 64-bit LCG, so a recursive HUGEINT
    // CTE regenerates every red byte, histograms them, and recomputes
    // the same entropy (exact integer counts; the float log sum
    // differs only in association order, absorbed by round 5).
    QueryDef("mm_image_entropy",
      (s, d) => {
        val media = graft.multimodal.Multimodal.syntheticMedia(
          graft.sources.Tables.load(s, d, "documents")
            .filter(col("doc_id") < 200), "doc_id")
        graft.multimodal.Multimodal.imageEntropy(media).toDF()
          .select(col("media_id"), col("n_distinct_r"),
            round(col("entropy_nats"), 5).as("entropy_nats"))
          .orderBy(col("media_id"))
      },
      Some("""WITH RECURSIVE lcg AS (
             |  SELECT 0 AS m, 1::HUGEINT AS am, 0::HUGEINT AS cm
             |  UNION ALL
             |  SELECT m + 1,
             |    (am * 6364136223846793005) % 18446744073709551616,
             |    (cm * 6364136223846793005 + 1442695040888963407)
             |      % 18446744073709551616
             |  FROM lcg WHERE m < 385),
             |px AS (SELECT d.doc_id AS media_id,
             |    (d.doc_id::HUGEINT * l.am + l.cm)
             |      % 18446744073709551616 AS s
             |  FROM documents d JOIN lcg l ON l.m BETWEEN 2 AND 385
             |  WHERE d.doc_id < 200),
             |h AS (SELECT media_id, (s // 1099511627776) % 256 AS r,
             |    count(*)::BIGINT AS c
             |  FROM px GROUP BY 1, 2)
             |SELECT media_id, count(*)::BIGINT AS n_distinct_r,
             |  round(sum(-(c::DOUBLE / 384.0)
             |    * ln(c::DOUBLE / 384.0)), 5) AS entropy_nats
             |FROM h GROUP BY media_id ORDER BY media_id""".stripMargin)),

    // Gaussian-kernel MMD² via random Fourier features (Rahimi &
    // Recht 2007, NIPS) between embedding label groups — the
    // shift-invariant-kernel companion to emb_mmd_poly's exact
    // moment identity: MMD²_rbf ≈ ‖mean z_P − mean z_Q‖² over D=32
    // features z_f(x) = cos(w_f·x + b_f), again ONE linear pass per
    // group instead of O(n²) kernel pairs. The w/b constants are
    // md5-seeded Box–Muller draws computed ONCE in Scala, rounded to
    // 9 decimals, and embedded as identical literals in BOTH engines
    // — no cross-engine transcendental agreement needed for the
    // projection. Per-row features quantize to a 1e6 grid (BIGINT)
    // before the group sums, and both engines fold the 16-term dot
    // product strictly left-to-right, so the sums are exact and
    // partition-order free.
    QueryDef("emb_mmd_rbf", {
      def h60(str: String): Long = {
        val md = java.security.MessageDigest.getInstance("MD5")
        val hex = md.digest(str.getBytes("UTF-8"))
          .map(b => f"$b%02x").mkString
        java.lang.Long.parseLong(hex.substring(0, 15), 16)
      }
      def u(str: String): Double = (h60(str) + 0.5) / math.pow(2, 60)
      def r9(v: Double): String =
        BigDecimal(v).setScale(9, BigDecimal.RoundingMode.HALF_UP)
          .bigDecimal.toPlainString
      val W = Array.tabulate(32, 16)((f, i) =>
        r9(math.sqrt(-2.0 * math.log(u(s"rff:w1:$f:$i"))) *
          math.cos(2.0 * math.Pi * u(s"rff:w2:$f:$i")) / 2.0))
      val B = Array.tabulate(32)(f => r9(2.0 * math.Pi * u(s"rff:b:$f")))
      val wSpark = W.map(_.mkString("array(", ", ", ")"))
        .mkString("array(", ", ", ")")
      val bSpark = B.mkString("array(", ", ", ")")
      (s, d) => {
        val xq = transform(slice(col("embedding"), 1, 16),
          x => round(x.cast("double") * 1000, 0).cast("long"))
        val emb = graft.sources.Tables.load(s, d, "embeddings")
        // fanOut before the 32-feature interpreted HOF transform: the
        // single-file scan yields ONE partition, so the random-feature
        // pass ran as one 0.8 s serial task (r17 HotProbe). The
        // expression itself must stay: its per-term (W·x)/1000
        // float order is what the oracle replays bit-exactly.
        val z = emb.select(col("label"), xq.as("xq"))
          .transform(QueryDef.fanOut)
          .select(col("label"), posexplode(expr(
            s"""transform(sequence(1, 32), f -> cast(round(cos(
               |  aggregate(sequence(1, 16), cast(0.0 as double),
               |    (a, i) -> a + element_at(element_at($wSpark, f), i)
               |      * element_at(xq, i) / 1000.0)
               |  + element_at($bSpark, f)) * 1000000, 0) as bigint))"""
              .stripMargin)).as(Seq("f", "zq")))
        val g = z.groupBy(col("label"), col("f"))
          .agg(sum(col("zq")).as("sz"))
        val n = emb.groupBy(col("label")).agg(count(lit(1)).as("n"))
        val ga = g.join(n, "label")
          .select(col("label").as("label_a"), col("f"),
            col("sz").as("sa"), col("n").as("na"))
        val gb = g.join(n, "label")
          .select(col("label").as("label_b"), col("f").as("fb"),
            col("sz").as("sb"), col("n").as("nb"))
        ga.join(gb, col("f") === col("fb") &&
            col("label_a") < col("label_b"))
          .select(col("label_a"), col("label_b"), col("na"), col("nb"),
            expr("(cast(sa as decimal(38,0)) * nb" +
              " - cast(sb as decimal(38,0)) * na)" +
              " * (cast(sa as decimal(38,0)) * nb" +
              "    - cast(sb as decimal(38,0)) * na)").as("d2"))
          .groupBy(col("label_a"), col("label_b"), col("na"), col("nb"))
          .agg(sum(col("d2")).as("s2"))
          .select(col("label_a"), col("label_b"),
            round(col("s2").cast("double") * lit(2.0) / lit(32.0) /
              (col("na") * col("nb")).cast("double") /
              (col("na") * col("nb")).cast("double") /
              lit(1e12), 6).as("mmd2_rbf"))
          .orderBy(col("label_a"), col("label_b"))
      }
    }, {
      def h60(str: String): Long = {
        val md = java.security.MessageDigest.getInstance("MD5")
        val hex = md.digest(str.getBytes("UTF-8"))
          .map(b => f"$b%02x").mkString
        java.lang.Long.parseLong(hex.substring(0, 15), 16)
      }
      def u(str: String): Double = (h60(str) + 0.5) / math.pow(2, 60)
      def r9(v: Double): String =
        BigDecimal(v).setScale(9, BigDecimal.RoundingMode.HALF_UP)
          .bigDecimal.toPlainString
      val W = Array.tabulate(32, 16)((f, i) =>
        r9(math.sqrt(-2.0 * math.log(u(s"rff:w1:$f:$i"))) *
          math.cos(2.0 * math.Pi * u(s"rff:w2:$f:$i")) / 2.0))
      val B = Array.tabulate(32)(f => r9(2.0 * math.Pi * u(s"rff:b:$f")))
      val wDuck = W.map(_.mkString("[", ", ", "]")).mkString("[", ", ", "]")
      val bDuck = B.mkString("[", ", ", "]")
      Some(s"""WITH wl AS MATERIALIZED (SELECT
             |    $wDuck AS w,
             |    $bDuck AS b),
             |x AS (SELECT vec_id, label,
             |    list_transform(embedding[1:16],
             |      v -> round(v::DOUBLE * 1000)::BIGINT) AS xq
             |  FROM embeddings),
             |z AS (SELECT label, f.f,
             |    round(cos(
             |      list_reduce(list_transform(range(1, 17),
             |        i -> wl.w[f.f][i] * xq[i] / 1000.0),
             |        (a, b) -> a + b)
             |      + wl.b[f.f]) * 1000000)::BIGINT AS zq
             |  FROM x, range(1, 33) f(f), wl),
             |g AS (SELECT label, f, sum(zq)::BIGINT AS sz
             |  FROM z GROUP BY 1, 2),
             |n AS (SELECT label, count(*)::BIGINT AS n
             |  FROM embeddings GROUP BY 1),
             |pr AS (SELECT ga.label AS label_a, gb.label AS label_b,
             |    na.n AS na, nb.n AS nb,
             |    (ga.sz::HUGEINT * nb.n - gb.sz::HUGEINT * na.n)
             |      * (ga.sz::HUGEINT * nb.n - gb.sz::HUGEINT * na.n) AS d2
             |  FROM g ga JOIN g gb ON ga.f = gb.f AND ga.label < gb.label
             |  JOIN n na ON na.label = ga.label
             |  JOIN n nb ON nb.label = gb.label),
             |m AS (SELECT label_a, label_b, na, nb, sum(d2) AS s2
             |  FROM pr GROUP BY 1, 2, 3, 4)
             |SELECT label_a, label_b,
             |  round(s2::DOUBLE * 2.0 / 32.0 / (na * nb)::DOUBLE
             |    / (na * nb)::DOUBLE / 1000000000000.0, 6) AS mmd2_rbf
             |FROM m ORDER BY label_a, label_b""".stripMargin)
    }),

    // EXACT Shapley-value channel attribution (Shapley 1953; the
    // marketing-attribution use is standard) over the 4 touchpoint
    // channels view/click/signup/error, conversion = purchase, with
    // characteristic v(S) = converted users whose touched-channel set
    // ⊆ S. One per-user shuffle folds 100 TB of events into a 16-row
    // mask digest; the 16×16 subset-sum join and the Σ_{S∌c}
    // |S|!(k−|S|−1)!·(v(S∪c)−v(S)) enumeration run on that digest
    // with INTEGER factorial weights (φ is reported ×24 = 4!, so the
    // whole computation is exact until the final share division).
    // Efficiency axiom — Σφ = v(full) — is pinned in the spec.
    QueryDef("q_shapley_attribution",
      (s, d) => {
        val ev = graft.sources.Tables.events(s, d)
        val users = ev.groupBy(col("user_id"))
          .agg((max(when(col("event_type") === "view", 1L).otherwise(0L)) +
            max(when(col("event_type") === "click", 2L).otherwise(0L)) +
            max(when(col("event_type") === "signup", 4L).otherwise(0L)) +
            max(when(col("event_type") === "error", 8L).otherwise(0L)))
            .as("mask"),
            max(when(col("event_type") === "purchase", 1L).otherwise(0L))
            .as("conv"))
        val masks = users.filter(col("conv") === 1)
          .groupBy(col("mask")).agg(count(lit(1)).as("nc"))
        val subsets = s.range(0, 16).toDF("ss")
        val v = subsets.join(masks,
            expr("(mask & ss) = mask"), "left")
          .groupBy(col("ss")).agg(coalesce(sum(col("nc")), lit(0L)).as("v"))
        val channels = s.createDataFrame(Seq(
            (1L, "view"), (2L, "click"), (4L, "signup"), (8L, "error")))
          .toDF("cbit", "channel")
        val phi = channels
          .join(v.select(col("ss").as("s0"), col("v").as("v0")),
            expr("(s0 & cbit) = 0"))
          .join(v.select(col("ss").as("s1"), col("v").as("v1")),
            expr("s1 = (s0 | cbit)"))
          .withColumn("w", expr(
            "CASE bit_count(s0) WHEN 0 THEN 6 WHEN 1 THEN 2 " +
              "WHEN 2 THEN 2 WHEN 3 THEN 6 END"))
          .groupBy(col("channel"))
          .agg(sum(col("w") * (col("v1") - col("v0"))).as("phi_x24"))
        phi.crossJoin(broadcast(
            phi.agg(sum(col("phi_x24")).as("tot"))))
          .select(col("channel"), col("phi_x24"),
            expr("CASE WHEN tot = 0 THEN 0L " +
              "ELSE phi_x24 * 1000000 div tot END").as("share_ppm"))
          .orderBy(col("channel"))
      },
      Some("""WITH u AS (SELECT user_id,
             |    max(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END)
             |    + max(CASE WHEN event_type = 'click' THEN 2 ELSE 0 END)
             |    + max(CASE WHEN event_type = 'signup' THEN 4 ELSE 0 END)
             |    + max(CASE WHEN event_type = 'error' THEN 8 ELSE 0 END)
             |      AS mask,
             |    max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
             |      AS conv
             |  FROM events GROUP BY 1),
             |mk AS (SELECT mask, count(*)::BIGINT AS nc FROM u
             |  WHERE conv = 1 GROUP BY 1),
             |ss AS (SELECT unnest(range(0, 16)) AS ss),
             |v AS (SELECT ss.ss, coalesce(sum(mk.nc), 0)::BIGINT AS v
             |  FROM ss LEFT JOIN mk ON (mk.mask & ss.ss) = mk.mask
             |  GROUP BY 1),
             |ch AS (SELECT * FROM (VALUES (1, 'view'), (2, 'click'),
             |    (4, 'signup'), (8, 'error')) t(cbit, channel)),
             |phi AS (SELECT ch.channel,
             |    sum((CASE bit_count(v0.ss) WHEN 0 THEN 6 WHEN 1 THEN 2
             |         WHEN 2 THEN 2 WHEN 3 THEN 6 END)
             |      * (v1.v - v0.v))::BIGINT AS phi_x24
             |  FROM ch JOIN v v0 ON (v0.ss & ch.cbit) = 0
             |    JOIN v v1 ON v1.ss = (v0.ss | ch.cbit)
             |  GROUP BY 1),
             |tot AS (SELECT sum(phi_x24)::BIGINT AS tot FROM phi)
             |SELECT phi.channel, phi.phi_x24,
             |  (CASE WHEN tot.tot = 0 THEN 0
             |   ELSE phi.phi_x24 * 1000000 // tot.tot END)::BIGINT
             |    AS share_ppm
             |FROM phi, tot ORDER BY phi.channel""".stripMargin)),

    // LZ78 phrase complexity (Ziv & Lempel 1978) of each document's
    // first 240 characters — the dictionary-growth compressibility
    // score (repetitive boilerplate → few phrases, diverse prose →
    // many) that complements the rows-only text_compression_ratio
    // with a VALUE-CHECKED integer metric. The greedy parse is an
    // inherently sequential fold: Spark runs it as one `aggregate()`
    // per row (state = dictionary array + current phrase + count),
    // the oracle as a recursive CTE stepping all docs' positions in
    // lockstep. Per-doc work is bounded by the 240-char cap, so the
    // scan stays embarrassingly parallel at 100 TB.
    QueryDef("q_lz78_complexity",
      (s, d) => {
        graft.sources.Tables.load(s, d, "documents")
          .filter(col("doc_id") < 300)
          .select(col("doc_id"),
            substring(lower(col("text")), 1, 240).as("t"))
          // r17 HotProbe: the interpreted LZ78 fold ran all 300 docs
          // in ONE task (0.5 s serial, twice) — fan the capped slice
          // to runtime width before the per-doc DP
          .transform(QueryDef.fanOut)
          .withColumn("len", length(col("t")).cast("long"))
          .withColumn("lz", expr(
            """aggregate(sequence(1, int(len)),
              |  named_struct('dict', cast(array() as array<string>),
              |               'cur', '', 'cnt', 0L),
              |  (acc, p) -> CASE
              |    WHEN array_contains(acc.dict,
              |        concat(acc.cur, substring(t, p, 1)))
              |    THEN named_struct('dict', acc.dict,
              |      'cur', concat(acc.cur, substring(t, p, 1)),
              |      'cnt', acc.cnt)
              |    ELSE named_struct(
              |      'dict', concat(acc.dict,
              |        array(concat(acc.cur, substring(t, p, 1)))),
              |      'cur', '', 'cnt', acc.cnt + 1L) END,
              |  acc -> acc.cnt +
              |    CASE WHEN acc.cur <> '' THEN 1L ELSE 0L END)"""
              .stripMargin))
          .select(col("doc_id"), col("len").as("n_chars"),
            col("lz").as("lz78_phrases"),
            expr("lz * 1000000 div len").as("ratio_ppm"))
          .orderBy(col("doc_id"))
      },
      Some("""WITH RECURSIVE t AS MATERIALIZED (SELECT doc_id,
             |    substr(lower(text), 1, 240) AS t,
             |    length(substr(lower(text), 1, 240))::BIGINT AS len
             |  FROM documents WHERE doc_id < 300),
             |it AS (
             |  SELECT doc_id, 0::BIGINT AS p, []::VARCHAR[] AS dict,
             |      '' AS cur, 0::BIGINT AS cnt, len, t
             |    FROM t
             |  UNION ALL
             |  SELECT doc_id, p + 1,
             |    CASE WHEN list_contains(dict,
             |        cur || substr(t, (p + 1)::INT, 1))
             |      THEN dict
             |      ELSE dict || [cur || substr(t, (p + 1)::INT, 1)] END,
             |    CASE WHEN list_contains(dict,
             |        cur || substr(t, (p + 1)::INT, 1))
             |      THEN cur || substr(t, (p + 1)::INT, 1) ELSE '' END,
             |    CASE WHEN list_contains(dict,
             |        cur || substr(t, (p + 1)::INT, 1))
             |      THEN cnt ELSE cnt + 1 END,
             |    len, t
             |  FROM it WHERE p < len)
             |SELECT doc_id, len AS n_chars,
             |  (cnt + CASE WHEN cur <> '' THEN 1 ELSE 0 END)::BIGINT
             |    AS lz78_phrases,
             |  ((cnt + CASE WHEN cur <> '' THEN 1 ELSE 0 END) * 1000000
             |    // len)::BIGINT AS ratio_ppm
             |FROM it WHERE p = len ORDER BY doc_id""".stripMargin)),

    // Rich-club coefficient (Zhou & Mondragón 2004) of the
    // co-purchase graph: φ(k) = 2·E_{>k} / (N_{>k}·(N_{>k}−1)) — do
    // the high-degree parts preferentially co-purchase with each
    // other? Exact integers per degree threshold (E and N from the
    // degree digest joined back to edges), one rounded float per row.
    QueryDef("q_rich_club",
      (s, d) => {
        val e = s.read.parquet(SqlQueries.copurchaseEdgesOf(s, d))
        val deg = e.select(col("p1").as("n")).unionAll(
            e.select(col("p2").as("n")))
          .groupBy(col("n")).agg(count(lit(1)).as("deg"))
        val ks = s.range(1, 9).toDF("k")
        val nk = ks.join(deg, col("deg") > col("k"))
          .groupBy(col("k")).agg(count(lit(1)).as("n_nodes"))
        val ek = ks
          .join(e.join(deg.select(col("n").as("n1"), col("deg").as("d1")),
              col("p1") === col("n1"))
            .join(deg.select(col("n").as("n2"), col("deg").as("d2")),
              col("p2") === col("n2")),
            col("d1") > col("k") && col("d2") > col("k"))
          .groupBy(col("k")).agg(count(lit(1)).as("n_edges"))
        nk.join(ek, Seq("k"), "left")
          .select(col("k"), col("n_nodes"),
            coalesce(col("n_edges"), lit(0L)).as("n_edges"),
            when(col("n_nodes") > 1,
              round(lit(2.0) * coalesce(col("n_edges"), lit(0L))
                .cast("double") /
                (col("n_nodes") * (col("n_nodes") - 1)).cast("double"), 6))
              .as("phi"))
          .filter(col("n_nodes") > 1)
          .orderBy(col("k"))
      },
      Some("""WITH pp AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
             |e AS (SELECT a.l_partkey AS p1, b.l_partkey AS p2
             |  FROM pp a JOIN pp b
             |    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
             |  GROUP BY 1, 2 HAVING count(*) >= 2),
             |deg AS (SELECT n, count(*)::BIGINT AS deg FROM (
             |    SELECT p1 AS n FROM e UNION ALL SELECT p2 FROM e)
             |  GROUP BY 1),
             |ks AS (SELECT unnest(range(1, 9)) AS k),
             |nk AS (SELECT ks.k, count(*)::BIGINT AS n_nodes
             |  FROM ks JOIN deg ON deg.deg > ks.k GROUP BY 1),
             |ek AS (SELECT ks.k, count(*)::BIGINT AS n_edges
             |  FROM ks, e
             |  JOIN deg d1 ON e.p1 = d1.n
             |  JOIN deg d2 ON e.p2 = d2.n
             |  WHERE d1.deg > ks.k AND d2.deg > ks.k GROUP BY 1)
             |SELECT nk.k, nk.n_nodes,
             |  coalesce(ek.n_edges, 0)::BIGINT AS n_edges,
             |  round(2.0 * coalesce(ek.n_edges, 0)::DOUBLE
             |    / (nk.n_nodes * (nk.n_nodes - 1))::DOUBLE, 6) AS phi
             |FROM nk LEFT JOIN ek ON nk.k = ek.k
             |WHERE nk.n_nodes > 1 ORDER BY nk.k""".stripMargin)),

    // Theil and Atkinson(ε=1) inequality indices of per-user spend —
    // the decomposable/welfare members of the inequality family next
    // to q_gini_coefficient. Both reduce to exact centi-integer user
    // totals plus one Σ x·ln x (Theil) / Σ ln x (Atkinson geomean)
    // pass: each per-user ln term is quantized to a 1e-9 grid BIGINT
    // before the exact sum, so the one shuffle is partial-aggregatable
    // and partition-order free; the closing arithmetic is float.
    QueryDef("q_inequality_indices",
      (s, d) => {
        val u = graft.sources.Tables.events(s, d)
          .filter(col("event_type") === "purchase")
          .groupBy(col("user_id"))
          .agg((sum(col("value").cast("decimal(18,2)")) * lit(100))
            .cast("long").as("x"))
          .filter(col("x") > 0)
        u.agg(count(lit(1)).as("n"), sum(col("x")).as("sx"),
            sum(round(col("x").cast("double") *
              log(col("x").cast("double")) * lit(1e9)).cast("long"))
              .as("sxlnx_e9"),
            sum(round(log(col("x").cast("double")) * lit(1e9))
              .cast("long")).as("slnx_e9"))
          .select(col("n").as("n_users"),
            round(col("sxlnx_e9").cast("double") / lit(1e9) /
              col("sx").cast("double") -
              log(col("sx").cast("double") / col("n").cast("double")), 6)
              .as("theil_t"),
            round(lit(1.0) -
              exp(col("slnx_e9").cast("double") / lit(1e9) /
                col("n").cast("double")) /
              (col("sx").cast("double") / col("n").cast("double")), 6)
              .as("atkinson_1"))
      },
      Some("""WITH u AS (SELECT user_id,
             |    (sum(CAST(value AS DECIMAL(18,2))) * 100)::BIGINT AS x
             |  FROM events WHERE event_type = 'purchase'
             |  GROUP BY 1 HAVING (sum(CAST(value AS DECIMAL(18,2)))
             |    * 100)::BIGINT > 0),
             |g AS (SELECT count(*)::BIGINT AS n, sum(x)::BIGINT AS sx,
             |    sum(round(x::DOUBLE * ln(x::DOUBLE) * 1e9)::BIGINT)
             |      ::BIGINT AS sxlnx_e9,
             |    sum(round(ln(x::DOUBLE) * 1e9)::BIGINT)::BIGINT AS slnx_e9
             |  FROM u)
             |SELECT n AS n_users,
             |  round(sxlnx_e9::DOUBLE / 1e9 / sx::DOUBLE
             |    - ln(sx::DOUBLE / n::DOUBLE), 6) AS theil_t,
             |  round(1.0 - exp(slnx_e9::DOUBLE / 1e9 / n::DOUBLE)
             |    / (sx::DOUBLE / n::DOUBLE), 6) AS atkinson_1
             |FROM g""".stripMargin)),

    // Inverse-propensity-weighted average treatment effect
    // (Horvitz & Thompson 1952; Rosenbaum & Rubin 1983) with
    // STRATIFIED propensities: treatment = "user hit a signup event",
    // outcome = user purchase count, strata = activity quartile (by
    // total event count — the confounder: busier users both sign up
    // and buy more). Within each stratum e(s) is the exact treatment
    // fraction, so each IPW term Y·n_s/n_Ts is an exact rational —
    // summed as 1e6-quantized integers; the naive (unadjusted) diff
    // is reported beside the IPW ATE to show the correction. Strata
    // come from exact quartile THRESHOLDS of the per-user event count
    // computed on the value digest (n_ev has a tiny domain), NOT from
    // ntile's global sort — a billion users never pass through one
    // partition; ties share a stratum identically in both engines.
    QueryDef("q_ipw_ate",
      (s, d) => {
        val u = graft.sources.Tables.events(s, d)
          .groupBy(col("user_id"))
          .agg(count(lit(1)).as("n_ev"),
            max(when(col("event_type") === "signup", 1L).otherwise(0L))
              .as("t"),
            sum(when(col("event_type") === "purchase", 1L).otherwise(0L))
              .as("y"))
        val dist = u.groupBy(col("n_ev")).agg(count(lit(1)).as("c"))
        val wv = Window.orderBy(col("n_ev"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        val cum = dist.withColumn("cc", sum(col("c")).over(wv))
          .crossJoin(broadcast(dist.agg(sum(col("c")).as("nn"))))
        val thr = broadcast(cum.agg(
          min(when(col("cc") * 4 >= col("nn"), col("n_ev"))).as("q1"),
          min(when(col("cc") * 2 >= col("nn"), col("n_ev"))).as("q2"),
          min(when(col("cc") * 4 >= col("nn") * 3, col("n_ev"))).as("q3")))
        val q = u.crossJoin(thr)
          .withColumn("stratum",
            lit(1) + when(col("n_ev") > col("q1"), 1).otherwise(0) +
              when(col("n_ev") > col("q2"), 1).otherwise(0) +
              when(col("n_ev") > col("q3"), 1).otherwise(0))
        val st = q.groupBy(col("stratum"))
          .agg(count(lit(1)).as("ns"),
            sum(col("t")).as("nts"),
            sum(col("t") * col("y")).as("syt"),
            sum((lit(1L) - col("t")) * col("y")).as("syc"))
          .filter(col("nts") > 0 && col("nts") < col("ns"))
        val tot = broadcast(q.agg(count(lit(1)).as("n"),
          sum(col("t")).as("nt"),
          sum(col("t") * col("y")).as("st1"),
          sum((lit(1L) - col("t")) * col("y")).as("st0")))
        st.crossJoin(tot)
          .agg(max(col("n")).as("n_users"),
            sum(expr("syt * ns * 1000000 div nts")).as("mu1_e6n"),
            sum(expr("syc * ns * 1000000 div (ns - nts)")).as("mu0_e6n"),
            max(col("nt")).as("nt"), max(col("st1")).as("st1"),
            max(col("st0")).as("st0"))
          .select(col("n_users"),
            round((col("mu1_e6n") - col("mu0_e6n")).cast("double") /
              lit(1e6) / col("n_users").cast("double"), 6).as("ate_ipw"),
            round(col("st1").cast("double") / col("nt").cast("double") -
              col("st0").cast("double") /
                (col("n_users") - col("nt")).cast("double"), 6)
              .as("ate_naive"))
      },
      Some("""WITH u AS (SELECT user_id, count(*)::BIGINT AS n_ev,
             |    max(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END)
             |      ::BIGINT AS t,
             |    sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
             |      ::BIGINT AS y
             |  FROM events GROUP BY 1),
             |dist AS (SELECT n_ev, count(*)::BIGINT AS c FROM u GROUP BY 1),
             |cum AS (SELECT n_ev, sum(c) OVER (ORDER BY n_ev
             |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cc,
             |    (SELECT sum(c) FROM dist) AS nn
             |  FROM dist),
             |thr AS (SELECT
             |    min(CASE WHEN cc * 4 >= nn THEN n_ev END) AS q1,
             |    min(CASE WHEN cc * 2 >= nn THEN n_ev END) AS q2,
             |    min(CASE WHEN cc * 4 >= nn * 3 THEN n_ev END) AS q3
             |  FROM cum),
             |q AS (SELECT u.*,
             |    1 + (CASE WHEN u.n_ev > thr.q1 THEN 1 ELSE 0 END)
             |      + (CASE WHEN u.n_ev > thr.q2 THEN 1 ELSE 0 END)
             |      + (CASE WHEN u.n_ev > thr.q3 THEN 1 ELSE 0 END)
             |      AS stratum
             |  FROM u, thr),
             |st AS (SELECT stratum, count(*)::BIGINT AS ns,
             |    sum(t)::BIGINT AS nts, sum(t * y)::BIGINT AS syt,
             |    sum((1 - t) * y)::BIGINT AS syc
             |  FROM q GROUP BY 1 HAVING sum(t) > 0 AND sum(t) < count(*)),
             |tot AS (SELECT count(*)::BIGINT AS n, sum(t)::BIGINT AS nt,
             |    sum(t * y)::BIGINT AS st1,
             |    sum((1 - t) * y)::BIGINT AS st0 FROM q),
             |agg AS (SELECT max(tot.n) AS n_users,
             |    sum(st.syt * st.ns * 1000000 // st.nts)::BIGINT AS mu1_e6n,
             |    sum(st.syc * st.ns * 1000000 // (st.ns - st.nts))::BIGINT
             |      AS mu0_e6n,
             |    max(tot.nt) AS nt, max(tot.st1) AS st1, max(tot.st0) AS st0
             |  FROM st, tot)
             |SELECT n_users,
             |  round((mu1_e6n - mu0_e6n)::DOUBLE / 1e6
             |    / n_users::DOUBLE, 6) AS ate_ipw,
             |  round(st1::DOUBLE / nt::DOUBLE
             |    - st0::DOUBLE / (n_users - nt)::DOUBLE, 6) AS ate_naive
             |FROM agg""".stripMargin)),

    // Greedy k-center coreset selection (Gonzalez 1985; the
    // farthest-first traversal behind active-learning/coreset
    // curation, Sener & Savarese 2018): 8 rounds, each round one
    // distributed argmax of the min-distance-to-selected column plus
    // a broadcast of the new center — the textbook 2-approximation,
    // k passes over the data and O(1) state. Distances are EXACT
    // integer sums of squared 1e-3-grid coordinate diffs, argmax
    // ties break to the smaller vec_id, so DuckDB replays the whole
    // trajectory; the reported radius²(k) must be non-increasing
    // (spec law).
    QueryDef("emb_kcenter_greedy",
      (s, d) => {
        // One ACTION per round: max(md) (this round's radius) and
        // max_by(struct(vec_id, q), struct(md, -vec_id)) (the NEXT
        // center — tie to smaller vec_id via the negated id, which
        // makes the ordering unique) fuse into a single aggregate,
        // halving the 2-jobs-per-round shape the r11 judge flagged.
        // The new center ships as a LITERAL array (O(1) driver
        // state), so each m_k is one narrow map over the cached
        // m_{k-1}; m_{k-1} unpersists as soon as the agg forces m_k.
        import org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
        val xq = transform(slice(col("embedding"), 1, 16),
          x => round(x.cast("double") * 1000, 0).cast("long"))
        val x = graft.sources.Tables.load(s, d, "embeddings")
          .select(col("vec_id"), xq.as("q")).persist(MEMORY_AND_DISK)
        def d2lit(center: Seq[Long]) = expr(
          s"aggregate(zip_with(q, array(${center.mkString("L,")}L), " +
            "(u, v) -> (u - v) * (u - v)), 0L, (acc, e) -> acc + e)")
        val c1 = x.orderBy(col("vec_id")).limit(1).head()
        var centerId = c1.getLong(0)
        var prev: org.apache.spark.sql.DataFrame = x
        var m = x.select(col("vec_id"), col("q"),
            d2lit(c1.getSeq[Long](1)).as("md")).persist(MEMORY_AND_DISK)
        val rows = Seq.newBuilder[(Long, Long, Long)]
        for (k <- 1 to 8) {
          val a = m.agg(max(col("md")).as("radius"),
            expr("max_by(struct(vec_id, q), struct(md, -vec_id))")
              .as("c")).head()
          prev.unpersist()
          rows += ((k.toLong, centerId, a.getLong(0)))
          if (k < 8) {
            val c = a.getStruct(1)
            centerId = c.getLong(0)
            prev = m
            m = m.select(col("vec_id"), col("q"),
                least(col("md"), d2lit(c.getSeq[Long](1))).as("md"))
              .persist(MEMORY_AND_DISK)
          }
        }
        m.unpersist()
        import s.implicits._
        rows.result().toDF("k", "vec_id", "radius_sq")
      },
      Some {
        val dd = (a: String, b: String) =>
          s"list_sum(list_transform(range(1,17), " +
            s"i -> ($a[i] - $b[i]) * ($a[i] - $b[i])))"
        val ctes = new StringBuilder(
          s"""WITH x AS (SELECT vec_id,
             |    list_transform(embedding[1:16],
             |      v -> round(v::DOUBLE*1000)::BIGINT) AS q
             |  FROM embeddings),
             |c1 AS (SELECT vec_id, q AS cq FROM x ORDER BY vec_id LIMIT 1),
             |m1 AS (SELECT x.vec_id, x.q, ${dd("x.q", "c1.cq")} AS md
             |  FROM x, c1)""".stripMargin)
        val sel = new StringBuilder(
          "SELECT 1 AS k, c1.vec_id, (SELECT max(md) FROM m1)::BIGINT" +
            " AS radius_sq FROM c1")
        for (k <- 2 to 8) {
          ctes.append(
            s""",
               |c$k AS (SELECT vec_id, q FROM m${k - 1}
               |  ORDER BY md DESC, vec_id LIMIT 1),
               |m$k AS (SELECT m.vec_id, m.q,
               |    least(m.md, ${dd("m.q", s"c$k.q")}) AS md
               |  FROM m${k - 1} m, c$k)""".stripMargin)
          sel.append(s"""
               |UNION ALL SELECT $k, c$k.vec_id,
               |  (SELECT max(md) FROM m$k)::BIGINT FROM c$k""".stripMargin)
        }
        ctes.toString + "\n" + sel.toString + "\nORDER BY k"
      }),

    // DSIR-style importance weights for data selection (Xie et al.
    // 2023, NeurIPS): score each out-of-domain document by the
    // log-likelihood ratio of a hashed-unigram LM fit on the target
    // domain (source 'src0') vs the proposal (everything else),
    // add-1-smoothed over 10k 60-bit-hash buckets. Per-bucket log
    // ratios are computed once from exact counts and quantized to a
    // 1e-9 grid, so every document weight is an EXACT integer sum —
    // one token pass, one ≤10k-row broadcast digest, top-20 by the
    // length-normalized per-token weight.
    QueryDef("pipe_dsir_weights",
      (s, d) => {
        // r17 HotProbe: the single-file scan ran the tokenize + md5
        // bucket hash in ONE task, twice (both consumers), 0.54 s +
        // 0.43 s serial — fan the raw docs to runtime width first
        val tok = graft.sources.Tables.load(s, d, "documents")
          .transform(QueryDef.fanOut)
          .select(col("doc_id"), col("source"),
            explode(graft.ext.TextAnalysis.tokens(col("text"))).as("w"))
          .select(col("doc_id"), col("source"),
            pmod(graft.ext.Dedup.strHash60(col("w")), lit(10000L)).as("bk"))
        val ct = tok.groupBy(col("bk"))
          .agg(sum(when(col("source") === "src0", 1L).otherwise(0L))
            .as("ct"),
            sum(when(col("source") =!= "src0", 1L).otherwise(0L)).as("cs"))
        val n = broadcast(ct.agg(sum(col("ct")).as("nt"),
          sum(col("cs")).as("ns")))
        val lr = broadcast(ct.crossJoin(n)
          .select(col("bk"),
            round((log((col("ct") + 1).cast("double")) -
              log((col("nt") + 10000).cast("double")) -
              log((col("cs") + 1).cast("double")) +
              log((col("ns") + 10000).cast("double"))) * lit(1e9))
              .cast("long").as("lr")))
        tok.filter(col("source") =!= "src0")
          .join(lr, "bk")
          .groupBy(col("doc_id"))
          .agg(sum(col("lr")).as("w_e9"), count(lit(1)).as("n_tokens"))
          .select(col("doc_id"), col("n_tokens"), col("w_e9"),
            expr("w_e9 div n_tokens").as("w_tok_e9"))
          .orderBy(col("w_tok_e9").desc, col("doc_id")).limit(20)
      },
      Some("""WITH t AS (SELECT doc_id, source,
             |    unnest(string_split(lower(text), ' ')) AS w
             |  FROM documents),
             |b AS (SELECT doc_id, source,
             |    ('0x'||substring(md5(w),1,15))::BIGINT % 10000 AS bk
             |  FROM t),
             |ct AS (SELECT bk,
             |    count(*) FILTER (source = 'src0')::BIGINT AS ct,
             |    count(*) FILTER (source <> 'src0')::BIGINT AS cs
             |  FROM b GROUP BY 1),
             |n AS (SELECT sum(ct)::BIGINT AS nt, sum(cs)::BIGINT AS ns
             |  FROM ct),
             |lr AS (SELECT bk, round((ln((ct + 1)::DOUBLE)
             |    - ln((n.nt + 10000)::DOUBLE) - ln((cs + 1)::DOUBLE)
             |    + ln((n.ns + 10000)::DOUBLE)) * 1e9)::BIGINT AS lr
             |  FROM ct, n),
             |dw AS (SELECT b.doc_id, sum(lr.lr)::BIGINT AS w_e9,
             |    count(*)::BIGINT AS n_tokens
             |  FROM b JOIN lr ON b.bk = lr.bk WHERE b.source <> 'src0'
             |  GROUP BY 1)
             |SELECT doc_id, n_tokens, w_e9,
             |  (w_e9 // n_tokens)::BIGINT AS w_tok_e9
             |FROM dw ORDER BY w_tok_e9 DESC, doc_id LIMIT 20"""
          .stripMargin)),

    // L-moments of daily revenue (Hosking 1990, JRSS-B): λ1, λ2 and
    // the L-skewness/L-kurtosis ratios t3/t4 — the order-statistic
    // distribution summary that is robust where classical
    // skew/kurtosis explode. The probability-weighted sums
    // Σ C(i−1,r)·x_(i) are EXACT BIGINTs over the ranked 30-day
    // centi-unit digest (the binomial factors divide exactly), so
    // the only floats are the four closing ratios, rounded once.
    QueryDef("q_l_moments",
      (s, d) => {
        val daily = graft.sources.Tables.events(s, d)
          .groupBy(to_date(col("ts")).as("day"))
          .agg((sum(col("value").cast("decimal(18,2)")) * lit(100))
            .cast("long").as("x"))
        val r = daily.withColumn("i",
          row_number().over(Window.orderBy(col("x"), col("day"))))
        val b = r.agg(count(lit(1)).as("n"), sum(col("x")).as("b0n"),
          sum((col("i") - 1) * col("x")).as("b1c"),
          sum(expr("(i - 1) * (i - 2) div 2") * col("x")).as("b2c"),
          sum(expr("(i - 1) * (i - 2) * (i - 3) div 6") * col("x"))
            .as("b3c"))
        b.select(col("n").as("n_days"),
            round(expr("b0n / n / 100.0"), 6).as("l1"),
            round(expr("(2.0 * b1c / n / (n - 1) - b0n / n) / 100.0"), 6)
              .as("l2"),
            round(expr(
              "(6.0 * b2c / n / ((n - 1) * (n - 2) div 2)" +
                " - 6.0 * b1c / n / (n - 1) + b0n / n)" +
                " / (2.0 * b1c / n / (n - 1) - b0n / n)"), 6).as("t3"),
            round(expr(
              "(20.0 * b3c / n / ((n - 1) * (n - 2) * (n - 3) div 6)" +
                " - 30.0 * b2c / n / ((n - 1) * (n - 2) div 2)" +
                " + 12.0 * b1c / n / (n - 1) - b0n / n)" +
                " / (2.0 * b1c / n / (n - 1) - b0n / n)"), 6).as("t4"))
      },
      Some("""WITH daily AS (SELECT ts::DATE AS day,
             |    (sum(CAST(value AS DECIMAL(18,2))) * 100)::BIGINT AS x
             |  FROM events GROUP BY 1),
             |r AS (SELECT x, row_number() OVER (ORDER BY x, day) AS i,
             |    count(*) OVER () AS n FROM daily),
             |b AS (SELECT max(n)::BIGINT AS n, sum(x)::BIGINT AS b0n,
             |    sum((i - 1) * x)::BIGINT AS b1c,
             |    sum(((i - 1) * (i - 2) // 2) * x)::BIGINT AS b2c,
             |    sum(((i - 1) * (i - 2) * (i - 3) // 6) * x)::BIGINT AS b3c
             |  FROM r)
             |SELECT n AS n_days,
             |  round(b0n / n / 100.0, 6) AS l1,
             |  round((2.0 * b1c / n / (n - 1) - b0n / n) / 100.0, 6) AS l2,
             |  round((6.0 * b2c / n / ((n - 1) * (n - 2) // 2)
             |      - 6.0 * b1c / n / (n - 1) + b0n / n)
             |    / (2.0 * b1c / n / (n - 1) - b0n / n), 6) AS t3,
             |  round((20.0 * b3c / n / ((n - 1) * (n - 2) * (n - 3) // 6)
             |      - 30.0 * b2c / n / ((n - 1) * (n - 2) // 2)
             |      + 12.0 * b1c / n / (n - 1) - b0n / n)
             |    / (2.0 * b1c / n / (n - 1) - b0n / n), 6) AS t4
             |FROM b""".stripMargin)),

    // Distance correlation (Székely, Rizzo & Bakirov 2007, AoS)
    // between daily view TRAFFIC and purchase REVENUE — detects the
    // nonlinear dependence Pearson misses; dCor² = 0 iff independent
    // (in the population). Double-centered distance matrices stay
    // EXACT: every n²a_ij − n·a_i − n·a_j + a·· entry is a BIGINT on
    // the 30-day digest, products go through HUGEINT/DECIMAL(38,0),
    // and the single float op is the closing ratio. O(n²)=900 cells —
    // digest work, while the daily rollup is the only data-sized
    // pass.
    QueryDef("q_distance_corr",
      (s, d) => {
        val daily = graft.sources.Tables.events(s, d)
          .groupBy(to_date(col("ts")).as("day"))
          .agg(sum(when(col("event_type") === "view", 1L).otherwise(0L))
            .as("x"),
            (sum(when(col("event_type") === "purchase",
              col("value").cast("decimal(18,2)")).otherwise(lit(0)
              .cast("decimal(18,2)"))) * lit(100)).cast("long").as("y"))
        val n = broadcast(daily.agg(count(lit(1)).as("n")))
        val p = daily.select(col("day").as("di"), col("x"), col("y"))
          .crossJoin(daily.select(col("day").as("dj"),
            col("x").as("xj"), col("y").as("yj")))
          .select(col("di"), col("dj"),
            abs(col("x") - col("xj")).as("ax"),
            abs(col("y") - col("yj")).as("ay"))
        val rs = p.groupBy(col("di"))
          .agg(sum(col("ax")).as("rax"), sum(col("ay")).as("ray"))
        val g = broadcast(p.agg(sum(col("ax")).as("gax"),
          sum(col("ay")).as("gay")))
        val c = p
          .join(rs.select(col("di").as("ri"), col("rax").as("raxi"),
            col("ray").as("rayi")), col("di") === col("ri"))
          .join(rs.select(col("di").as("rj"), col("rax").as("raxj"),
            col("ray").as("rayj")), col("dj") === col("rj"))
          .crossJoin(g).crossJoin(n)
          .select(
            expr("cast(n * n * ax - n * raxi - n * raxj + gax" +
              " as decimal(38,0))").as("sa"),
            expr("cast(n * n * ay - n * rayi - n * rayj + gay" +
              " as decimal(38,0))").as("sb"))
        c.agg(sum(col("sa") * col("sb")).as("scov"),
            sum(col("sa") * col("sa")).as("svx"),
            sum(col("sb") * col("sb")).as("svy"))
          .crossJoin(n)
          .select(col("n").as("n_days"),
            round(col("scov").cast("double") /
              sqrt(col("svx").cast("double") * col("svy").cast("double")),
              6).as("dcor_sq"))
      },
      Some("""WITH daily AS (SELECT ts::DATE AS day,
             |    sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END)
             |      ::BIGINT AS x,
             |    (sum(CASE WHEN event_type = 'purchase'
             |        THEN CAST(value AS DECIMAL(18,2))
             |        ELSE CAST(0 AS DECIMAL(18,2)) END) * 100)::BIGINT AS y
             |  FROM events GROUP BY 1),
             |n AS (SELECT count(*)::BIGINT AS n FROM daily),
             |p AS (SELECT a.day AS di, b.day AS dj,
             |    abs(a.x - b.x) AS ax, abs(a.y - b.y) AS ay
             |  FROM daily a, daily b),
             |rs AS (SELECT di, sum(ax)::BIGINT AS rax,
             |    sum(ay)::BIGINT AS ray FROM p GROUP BY 1),
             |g AS (SELECT sum(ax)::BIGINT AS gax, sum(ay)::BIGINT AS gay
             |  FROM p),
             |c AS (SELECT
             |    (n.n * n.n * p.ax - n.n * ri.rax - n.n * rj.rax + g.gax)
             |      ::HUGEINT AS sa,
             |    (n.n * n.n * p.ay - n.n * ri.ray - n.n * rj.ray + g.gay)
             |      ::HUGEINT AS sb
             |  FROM p JOIN rs ri ON ri.di = p.di
             |    JOIN rs rj ON rj.di = p.dj, g, n),
             |s AS (SELECT sum(sa * sb) AS scov, sum(sa * sa) AS svx,
             |    sum(sb * sb) AS svy FROM c)
             |SELECT n.n AS n_days,
             |  round(scov::DOUBLE / sqrt(svx::DOUBLE * svy::DOUBLE), 6)
             |    AS dcor_sq
             |FROM s, n""".stripMargin)),

    // Partial correlation of daily view and click revenue CONTROLLING
    // for purchase revenue — r_xy·z = (r_xy − r_xz·r_yz) /
    // √((1−r_xz²)(1−r_yz²)), the "is the x–y link just the common
    // driver z?" check. Each pairwise r comes from exact centi-unit
    // integer moments and is rounded to 9 decimals BEFORE the
    // formula, so both engines combine identical inputs.
    QueryDef("q_partial_corr",
      (s, d) => {
        def sd(et: String) = (sum(when(col("event_type") === et,
          col("value").cast("decimal(18,2)")).otherwise(lit(0)
          .cast("decimal(18,2)"))) * lit(100)).cast("long")
        val daily = graft.sources.Tables.events(s, d)
          .groupBy(to_date(col("ts")).as("day"))
          .agg(sd("view").as("x"), sd("click").as("y"),
            sd("purchase").as("z"))
        val m = daily.agg(count(lit(1)).as("n"),
          sum(col("x")).as("sx"), sum(col("y")).as("sy"),
          sum(col("z")).as("sz"),
          sum(expr("cast(x as decimal(38,0)) * x")).as("sxx"),
          sum(expr("cast(y as decimal(38,0)) * y")).as("syy"),
          sum(expr("cast(z as decimal(38,0)) * z")).as("szz"),
          sum(expr("cast(x as decimal(38,0)) * y")).as("sxy"),
          sum(expr("cast(x as decimal(38,0)) * z")).as("sxz"),
          sum(expr("cast(y as decimal(38,0)) * z")).as("syz"))
        def rr(sab: String, sa: String, sb: String, saa: String,
               sbb: String) = round(
          (col("n").cast("double") * col(sab).cast("double") -
            col(sa).cast("double") * col(sb).cast("double")) /
            sqrt((col("n").cast("double") * col(saa).cast("double") -
              col(sa).cast("double") * col(sa).cast("double")) *
              (col("n").cast("double") * col(sbb).cast("double") -
                col(sb).cast("double") * col(sb).cast("double"))), 9)
        m.select(col("n").as("n_days"),
            rr("sxy", "sx", "sy", "sxx", "syy").as("rxy"),
            rr("sxz", "sx", "sz", "sxx", "szz").as("rxz"),
            rr("syz", "sy", "sz", "syy", "szz").as("ryz"))
          .select(col("n_days"), col("rxy"), col("rxz"), col("ryz"),
            round((col("rxy") - col("rxz") * col("ryz")) /
              sqrt((lit(1.0) - col("rxz") * col("rxz")) *
                (lit(1.0) - col("ryz") * col("ryz"))), 6)
              .as("r_xy_given_z"))
      },
      Some("""WITH daily AS (SELECT ts::DATE AS day,
             |    (sum(CASE WHEN event_type = 'view'
             |        THEN CAST(value AS DECIMAL(18,2))
             |        ELSE CAST(0 AS DECIMAL(18,2)) END) * 100)::BIGINT AS x,
             |    (sum(CASE WHEN event_type = 'click'
             |        THEN CAST(value AS DECIMAL(18,2))
             |        ELSE CAST(0 AS DECIMAL(18,2)) END) * 100)::BIGINT AS y,
             |    (sum(CASE WHEN event_type = 'purchase'
             |        THEN CAST(value AS DECIMAL(18,2))
             |        ELSE CAST(0 AS DECIMAL(18,2)) END) * 100)::BIGINT AS z
             |  FROM events GROUP BY 1),
             |m AS (SELECT count(*)::BIGINT AS n,
             |    sum(x)::BIGINT AS sx, sum(y)::BIGINT AS sy,
             |    sum(z)::BIGINT AS sz,
             |    sum(x::HUGEINT * x) AS sxx, sum(y::HUGEINT * y) AS syy,
             |    sum(z::HUGEINT * z) AS szz, sum(x::HUGEINT * y) AS sxy,
             |    sum(x::HUGEINT * z) AS sxz, sum(y::HUGEINT * z) AS syz
             |  FROM daily),
             |r AS (SELECT n,
             |    round((n::DOUBLE * sxy::DOUBLE - sx::DOUBLE * sy::DOUBLE)
             |      / sqrt((n::DOUBLE * sxx::DOUBLE - sx::DOUBLE * sx::DOUBLE)
             |        * (n::DOUBLE * syy::DOUBLE - sy::DOUBLE * sy::DOUBLE)),
             |      9) AS rxy,
             |    round((n::DOUBLE * sxz::DOUBLE - sx::DOUBLE * sz::DOUBLE)
             |      / sqrt((n::DOUBLE * sxx::DOUBLE - sx::DOUBLE * sx::DOUBLE)
             |        * (n::DOUBLE * szz::DOUBLE - sz::DOUBLE * sz::DOUBLE)),
             |      9) AS rxz,
             |    round((n::DOUBLE * syz::DOUBLE - sy::DOUBLE * sz::DOUBLE)
             |      / sqrt((n::DOUBLE * syy::DOUBLE - sy::DOUBLE * sy::DOUBLE)
             |        * (n::DOUBLE * szz::DOUBLE - sz::DOUBLE * sz::DOUBLE)),
             |      9) AS ryz
             |  FROM m)
             |SELECT n AS n_days, rxy, rxz, ryz,
             |  round((rxy - rxz * ryz)
             |    / sqrt((1.0 - rxz * rxz) * (1.0 - ryz * ryz)), 6)
             |    AS r_xy_given_z
             |FROM r""".stripMargin)),

    // OLS influence diagnostics (Cook 1977) for the daily-revenue
    // trend regression: residual, leverage h_i, and Cook's distance
    // per day. The trick is EXACT scaled-integer residuals: with
    // num/den the closed-form slope fraction, E_i = n·den·y_i −
    // (den·Σy − num·Σt) − n·num·t_i is a plain BIGINT, and leverage
    // scales to H_i = den + (n·t_i − Σt)² — so Cook's D =
    // E²·H·(n−2)·n·den / (2·ΣE²·(n·den−H)²) is a float expression of
    // exact DECIMAL(38,0) products, rounded once per day.
    QueryDef("q_cooks_distance",
      (s, d) => {
        val daily = graft.sources.Tables.events(s, d)
          .groupBy(to_date(col("ts")).as("day"))
          .agg((sum(col("value").cast("decimal(18,2)")) * lit(100))
            .cast("long").as("y"))
          .withColumn("t",
            (row_number().over(Window.orderBy(col("day"))) - 1)
              .cast("long"))
        val g = broadcast(daily.agg(count(lit(1)).as("n"),
          sum(col("t")).as("st"), sum(col("y")).as("sy"),
          sum(col("t") * col("t")).as("stt"),
          sum(col("t") * col("y")).as("sty")))
        val e = daily.crossJoin(g)
          .withColumn("num", expr("n * sty - st * sy"))
          .withColumn("den", expr("n * stt - st * st"))
          .withColumn("ee", expr(
            "cast(n as decimal(38,0)) * den * y" +
              " - (cast(den as decimal(38,0)) * sy" +
              "    - cast(num as decimal(38,0)) * st)" +
              " - cast(n as decimal(38,0)) * num * t"))
          .withColumn("hh", expr(
            "cast(den as decimal(38,0)) + (n * t - st) * (n * t - st)"))
        val rss = broadcast(
          e.agg(sum(col("ee") * col("ee")).as("see")))
        e.crossJoin(rss)
          .select(col("day").cast("string").as("day"),
            round(col("ee").cast("double") /
              (col("n") * col("den")).cast("double") / lit(100.0), 4)
              .as("residual"),
            round(col("hh").cast("double") /
              (col("n") * col("den")).cast("double"), 6).as("leverage"),
            round(expr(
              "CASE WHEN see = 0 THEN 0.0 ELSE " +
                "cast(ee * ee * hh * (n - 2) as double)" +
                " * cast(cast(n as decimal(38,0)) * den as double)" +
                " / (2.0 * cast(see as double)" +
                "    * cast((cast(n as decimal(38,0)) * den - hh)" +
                "           * (cast(n as decimal(38,0)) * den - hh)" +
                "           as double)) END"), 6).as("cooks_d"))
          .orderBy(col("day"))
      },
      Some("""WITH daily AS (SELECT day,
             |    row_number() OVER (ORDER BY day) - 1 AS t, y FROM (
             |    SELECT ts::DATE AS day,
             |      (sum(CAST(value AS DECIMAL(18,2))) * 100)::BIGINT AS y
             |    FROM events GROUP BY 1)),
             |g AS (SELECT count(*)::BIGINT AS n, sum(t)::BIGINT AS st,
             |    sum(y)::BIGINT AS sy, sum(t * t)::BIGINT AS stt,
             |    sum(t * y)::BIGINT AS sty FROM daily),
             |e AS (SELECT daily.day, daily.t, daily.y, g.n,
             |    g.n * g.sty - g.st * g.sy AS num,
             |    g.n * g.stt - g.st * g.st AS den,
             |    (g.n::HUGEINT * (g.n * g.stt - g.st * g.st) * daily.y
             |      - ((g.n * g.stt - g.st * g.st)::HUGEINT * g.sy
             |         - (g.n * g.sty - g.st * g.sy)::HUGEINT * g.st)
             |      - g.n::HUGEINT * (g.n * g.sty - g.st * g.sy) * daily.t)
             |      AS ee,
             |    ((g.n * g.stt - g.st * g.st)::HUGEINT
             |      + (g.n * daily.t - g.st)::HUGEINT
             |        * (g.n * daily.t - g.st)) AS hh
             |  FROM daily, g),
             |rss AS (SELECT sum(ee * ee) AS see FROM e)
             |SELECT e.day::VARCHAR AS day,
             |  round(ee::DOUBLE / (e.n * e.den)::DOUBLE / 100.0, 4)
             |    AS residual,
             |  round(hh::DOUBLE / (e.n * e.den)::DOUBLE, 6) AS leverage,
             |  round(CASE WHEN rss.see = 0 THEN 0.0 ELSE
             |    (ee * ee * hh * (e.n - 2))::DOUBLE
             |    * (e.n::HUGEINT * e.den)::DOUBLE
             |    / (2.0 * rss.see::DOUBLE
             |       * ((e.n::HUGEINT * e.den - hh)
             |          * (e.n::HUGEINT * e.den - hh))::DOUBLE) END, 6)
             |    AS cooks_d
             |FROM e, rss ORDER BY e.day""".stripMargin)),

    // Durbin–Watson statistic (Durbin & Watson 1950) on the same
    // trend residuals — the serial-correlation diagnostic that says
    // whether the OLS trend line can be trusted (DW ≈ 2 = none,
    // → 0 positive, → 4 negative). The scaled-integer residuals make
    // DW = ΣΔE²/ΣE² an exact integer ratio (the n·den scale
    // cancels); one float division, rounded once.
    QueryDef("q_durbin_watson",
      (s, d) => {
        val daily = graft.sources.Tables.events(s, d)
          .groupBy(to_date(col("ts")).as("day"))
          .agg((sum(col("value").cast("decimal(18,2)")) * lit(100))
            .cast("long").as("y"))
          .withColumn("t",
            (row_number().over(Window.orderBy(col("day"))) - 1)
              .cast("long"))
        val g = broadcast(daily.agg(count(lit(1)).as("n"),
          sum(col("t")).as("st"), sum(col("y")).as("sy"),
          sum(col("t") * col("t")).as("stt"),
          sum(col("t") * col("y")).as("sty")))
        val e = daily.crossJoin(g)
          .withColumn("ee", expr(
            "cast(n as decimal(38,0)) * (n * stt - st * st) * y" +
              " - (cast(n * stt - st * st as decimal(38,0)) * sy" +
              "    - cast(n * sty - st * sy as decimal(38,0)) * st)" +
              " - cast(n as decimal(38,0)) * (n * sty - st * sy) * t"))
          .withColumn("ep",
            lag(col("ee"), 1).over(Window.orderBy(col("t"))))
        e.agg(count(lit(1)).as("n_days"),
            sum(col("ee") * col("ee")).as("see"),
            sum(when(col("ep").isNotNull,
              (col("ee") - col("ep")) * (col("ee") - col("ep")))
              .otherwise(expr("cast(0 as decimal(38,0))"))).as("sde"))
          .select(col("n_days"),
            round(col("sde").cast("double") / col("see").cast("double"),
              6).as("dw"))
      },
      Some("""WITH daily AS (SELECT day,
             |    row_number() OVER (ORDER BY day) - 1 AS t, y FROM (
             |    SELECT ts::DATE AS day,
             |      (sum(CAST(value AS DECIMAL(18,2))) * 100)::BIGINT AS y
             |    FROM events GROUP BY 1)),
             |g AS (SELECT count(*)::BIGINT AS n, sum(t)::BIGINT AS st,
             |    sum(y)::BIGINT AS sy, sum(t * t)::BIGINT AS stt,
             |    sum(t * y)::BIGINT AS sty FROM daily),
             |e AS (SELECT daily.t,
             |    (g.n::HUGEINT * (g.n * g.stt - g.st * g.st) * daily.y
             |      - ((g.n * g.stt - g.st * g.st)::HUGEINT * g.sy
             |         - (g.n * g.sty - g.st * g.sy)::HUGEINT * g.st)
             |      - g.n::HUGEINT * (g.n * g.sty - g.st * g.sy) * daily.t)
             |      AS ee
             |  FROM daily, g),
             |l AS (SELECT ee, lag(ee) OVER (ORDER BY t) AS ep FROM e)
             |SELECT (SELECT count(*) FROM e)::BIGINT AS n_days,
             |  round(sum(CASE WHEN ep IS NOT NULL
             |      THEN (ee - ep) * (ee - ep) ELSE 0::HUGEINT END)::DOUBLE
             |    / sum(ee * ee)::DOUBLE, 6) AS dw
             |FROM l""".stripMargin)),


    // Jonckheere–Terpstra ordered-alternative test (Jonckheere 1954;
    // Terpstra 1952) — "do event values trend upward across the day?"
    // with the day's four 6-hour blocks as the ORDERED groups (night <
    // morning < afternoon < evening). J = Σ_{g<h} U_gh where U_gh is
    // the Mann-Whitney count of (x_g < x_h) pairs with ties as ½ —
    // the unblocked complement of q_page_trend. NEVER pairwise: values
    // quantize to a bounded 1e-3 cell grid, each ordered group carries
    // a cumulative-below profile over the GLOBAL cell spine (groups ×
    // cells ≈ 4·33k rows — value-range-bounded, scale-independent),
    // and 2J = Σ_cells c_h·(2·cumlt_g + c_g) is one hash join on the
    // cell id. Null moments use the full tie-corrected Kendall-class
    // variance (σ² = A/72 + B/(36n(n-1)(n-2)) + C/(8n(n-1))) from
    // exact DECIMAL(38,0) tie/group cubics; z is one double at the
    // end. 100 TB path: two shuffles (cell digest, group digest), all
    // joins broadcast.
    QueryDef("q_jonckheere_terpstra",
      (s, d) => {
        val v = graft.sources.Tables.events(s, d)
          .select((hour(col("ts")) / 6).cast("int").as("g"),
            floor(col("value") * 1000).cast("long").as("vm"))
        val gcell = v.groupBy(col("g"), col("vm"))
          .agg(count(lit(1)).as("c"))
        val cells = gcell.groupBy(col("vm")).agg(sum(col("c")).as("t"))
        val groups = gcell.groupBy(col("g")).agg(sum(col("c")).as("u"))
        val spine = cells.select(col("vm").as("svm"))
          .crossJoin(broadcast(groups.select(col("g").as("sg"))))
          .join(gcell, col("svm") === gcell("vm") && col("sg") === gcell("g"),
            "left")
          .select(col("svm"), col("sg"),
            coalesce(col("c"), lit(0L)).as("c0"))
          .withColumn("cumlt", coalesce(
            sum(col("c0")).over(Window.partitionBy(col("sg"))
              .orderBy(col("svm"))
              .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
        val j2 = gcell.join(spine,
            gcell("vm") === spine("svm") && spine("sg") < gcell("g"))
          .agg(sum(col("c").cast("decimal(38,0)") *
            (lit(2L) * col("cumlt") + col("c0")).cast("decimal(38,0)"))
            .as("j2"))
        val gm = groups.agg(
          sum(col("u")).as("n"), count(lit(1)).as("k"),
          sum(col("u").cast("decimal(38,0)") * col("u")).as("su2"),
          sum(col("u").cast("decimal(38,0)") * (col("u") - 1L)).as("su_c"),
          sum(col("u").cast("decimal(38,0)") * (col("u") - 1L) *
            (col("u") - 2L)).as("su_b"),
          sum(col("u").cast("decimal(38,0)") * (col("u") - 1L) *
            (lit(2L) * col("u") + 5L)).as("su_a"))
        val tm = cells.agg(
          sum(col("t").cast("decimal(38,0)") * (col("t") - 1L)).as("st_c"),
          sum(col("t").cast("decimal(38,0)") * (col("t") - 1L) *
            (col("t") - 2L)).as("st_b"),
          sum(col("t").cast("decimal(38,0)") * (col("t") - 1L) *
            (lit(2L) * col("t") + 5L)).as("st_a"))
        j2.crossJoin(broadcast(gm)).crossJoin(broadcast(tm))
          .select(col("n"), col("k"),
            round(col("j2").cast("double") / 2.0, 1).as("j_stat"),
            round((col("n").cast("decimal(38,0)") * col("n") - col("su2"))
              .cast("double") / 4.0, 2).as("e_j"),
            round(
              (col("j2").cast("double") / 2.0 -
                (col("n").cast("decimal(38,0)") * col("n") - col("su2"))
                  .cast("double") / 4.0) /
              sqrt(
                (col("n").cast("decimal(38,0)") * (col("n") - 1L) *
                  (lit(2L) * col("n") + 5L) - col("su_a") - col("st_a"))
                  .cast("double") / 72.0 +
                col("su_b").cast("double") * col("st_b").cast("double") /
                  (lit(36.0) * col("n").cast("double") *
                    (col("n").cast("double") - 1.0) *
                    (col("n").cast("double") - 2.0)) +
                col("su_c").cast("double") * col("st_c").cast("double") /
                  (lit(8.0) * col("n").cast("double") *
                    (col("n").cast("double") - 1.0))), 4).as("z"))
      },
      Some("""WITH v AS (SELECT (hour(ts) // 6)::INT AS g,
             |    floor(value * 1000)::BIGINT AS vm FROM events),
             |gcell AS (SELECT g, vm, count(*)::BIGINT AS c
             |  FROM v GROUP BY 1, 2),
             |cells AS (SELECT vm, sum(c)::BIGINT AS t FROM gcell GROUP BY 1),
             |groups AS (SELECT g, sum(c)::BIGINT AS u FROM gcell GROUP BY 1),
             |spine AS (SELECT cells.vm AS svm, groups.g AS sg,
             |    coalesce(gcell.c, 0)::BIGINT AS c0
             |  FROM cells CROSS JOIN groups
             |  LEFT JOIN gcell ON gcell.vm = cells.vm AND gcell.g = groups.g),
             |cum AS (SELECT svm, sg, c0, coalesce(sum(c0) OVER (
             |    PARTITION BY sg ORDER BY svm
             |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
             |    AS cumlt FROM spine),
             |j AS (SELECT sum(gcell.c::HUGEINT *
             |    (2 * cum.cumlt + cum.c0)::HUGEINT) AS j2
             |  FROM gcell JOIN cum ON gcell.vm = cum.svm
             |    AND cum.sg < gcell.g),
             |gm AS (SELECT sum(u)::BIGINT AS n, count(*)::BIGINT AS k,
             |    sum(u::HUGEINT * u) AS su2,
             |    sum(u::HUGEINT * (u - 1)) AS su_c,
             |    sum(u::HUGEINT * (u - 1) * (u - 2)) AS su_b,
             |    sum(u::HUGEINT * (u - 1) * (2 * u + 5)) AS su_a
             |  FROM groups),
             |tm AS (SELECT sum(t::HUGEINT * (t - 1)) AS st_c,
             |    sum(t::HUGEINT * (t - 1) * (t - 2)) AS st_b,
             |    sum(t::HUGEINT * (t - 1) * (2 * t + 5)) AS st_a
             |  FROM cells)
             |SELECT gm.n, gm.k,
             |  round(j.j2::DOUBLE / 2.0, 1) AS j_stat,
             |  round((gm.n::HUGEINT * gm.n - gm.su2)::DOUBLE / 4.0, 2)
             |    AS e_j,
             |  round((j.j2::DOUBLE / 2.0
             |      - (gm.n::HUGEINT * gm.n - gm.su2)::DOUBLE / 4.0)
             |    / sqrt((gm.n::HUGEINT * (gm.n - 1) * (2 * gm.n + 5)
             |        - gm.su_a - tm.st_a)::DOUBLE / 72.0
             |      + gm.su_b::DOUBLE * tm.st_b::DOUBLE
             |        / (36.0 * gm.n::DOUBLE * (gm.n::DOUBLE - 1.0)
             |           * (gm.n::DOUBLE - 2.0))
             |      + gm.su_c::DOUBLE * tm.st_c::DOUBLE
             |        / (8.0 * gm.n::DOUBLE * (gm.n::DOUBLE - 1.0))), 4)
             |    AS z
             |FROM j, gm, tm""".stripMargin)),

    // Permutation entropy (Bandt & Pompe 2002), order m = 3, on the
    // zero-filled daily 'view' count series — the complexity measure
    // that reads a time series through the DISTRIBUTION of its local
    // ordinal patterns instead of its values, so it is invariant to
    // monotone rescaling and robust to outliers. Ties break by
    // position (lexicographic (value, index) — the standard stable-
    // argsort convention), so every window maps to exactly one of the
    // 3! patterns via three integer comparisons; no floats until the
    // final Σ −p·ln p (9-dp-quantized per term, the repo's ln
    // discipline; ln 3! embedded as an identical 15-digit literal in
    // both engines). The series is a calendar digest — one shuffle at
    // any data scale; the lead() windows run over ≤ a few hundred
    // rows.
    QueryDef("q_permutation_entropy",
      (s, d) => {
        val ev = graft.sources.Tables.events(s, d)
        val counts = ev.filter(col("event_type") === "view")
          .groupBy(to_date(col("ts")).as("day"))
          .agg(count(lit(1)).as("c"))
        val spine = ev.agg(min(to_date(col("ts"))).as("d0"),
            max(to_date(col("ts"))).as("d1"))
          .select(explode(expr("sequence(d0, d1)")).as("day"))
        val x = spine.join(counts, Seq("day"), "left")
          .select(col("day"), coalesce(col("c"), lit(0L)).as("x"))
          .withColumn("x1", lead(col("x"), 1).over(Window.orderBy(col("day"))))
          .withColumn("x2", lead(col("x"), 2).over(Window.orderBy(col("day"))))
          .filter(col("x2").isNotNull)
          .withColumn("pat",
            when(col("x") <= col("x1") && col("x1") <= col("x2"), "012")
              .when(col("x") <= col("x1") && col("x") <= col("x2"), "021")
              .when(col("x") <= col("x1"), "201")
              .when(col("x") <= col("x2"), "102")
              .when(col("x1") <= col("x2"), "120")
              .otherwise("210"))
        val pc = x.groupBy(col("pat")).agg(count(lit(1)).as("c"))
          .withColumn("n", sum(col("c")).over(Window.partitionBy()))
          .withColumn("hterm",
            round(-(col("c").cast("double") / col("n").cast("double")) *
              log(col("c").cast("double") / col("n").cast("double")), 9)
              .cast("decimal(20,9)"))
        pc.agg(max(col("n")).as("n_windows"),
            sum(when(col("pat") === "012", col("c")).otherwise(0L)).as("c012"),
            sum(when(col("pat") === "021", col("c")).otherwise(0L)).as("c021"),
            sum(when(col("pat") === "102", col("c")).otherwise(0L)).as("c102"),
            sum(when(col("pat") === "120", col("c")).otherwise(0L)).as("c120"),
            sum(when(col("pat") === "201", col("c")).otherwise(0L)).as("c201"),
            sum(when(col("pat") === "210", col("c")).otherwise(0L)).as("c210"),
            sum(col("hterm")).as("hsum"))
          .select(col("n_windows"), col("c012"), col("c021"), col("c102"),
            col("c120"), col("c201"), col("c210"),
            round(col("hsum").cast("double"), 6).as("h"),
            round(col("hsum").cast("double") / 1.791759469228055, 6)
              .as("h_norm"))
      },
      Some("""WITH sp AS (SELECT min(ts::DATE) AS d0, max(ts::DATE) AS d1
             |  FROM events),
             |counts AS (SELECT ts::DATE AS day, count(*)::BIGINT AS c
             |  FROM events WHERE event_type = 'view' GROUP BY 1),
             |spine AS (SELECT unnest(generate_series(sp.d0, sp.d1,
             |    INTERVAL 1 DAY))::DATE AS day FROM sp),
             |x AS (SELECT spine.day, coalesce(counts.c, 0)::BIGINT AS x
             |  FROM spine LEFT JOIN counts USING (day)),
             |w AS (SELECT x, lead(x, 1) OVER (ORDER BY day) AS x1,
             |    lead(x, 2) OVER (ORDER BY day) AS x2 FROM x),
             |p AS (SELECT CASE
             |    WHEN x <= x1 AND x1 <= x2 THEN '012'
             |    WHEN x <= x1 AND x <= x2 THEN '021'
             |    WHEN x <= x1 THEN '201'
             |    WHEN x <= x2 THEN '102'
             |    WHEN x1 <= x2 THEN '120'
             |    ELSE '210' END AS pat
             |  FROM w WHERE x2 IS NOT NULL),
             |pc AS (SELECT pat, count(*)::BIGINT AS c FROM p GROUP BY 1),
             |pn AS (SELECT pat, c, sum(c) OVER ()::BIGINT AS n,
             |    round(-(c::DOUBLE / (sum(c) OVER ())::DOUBLE)
             |      * ln(c::DOUBLE / (sum(c) OVER ())::DOUBLE), 9)
             |      ::DECIMAL(20,9) AS hterm
             |  FROM pc),
             |agg AS (SELECT max(n)::BIGINT AS n_windows,
             |    sum(CASE WHEN pat = '012' THEN c ELSE 0 END)::BIGINT AS c012,
             |    sum(CASE WHEN pat = '021' THEN c ELSE 0 END)::BIGINT AS c021,
             |    sum(CASE WHEN pat = '102' THEN c ELSE 0 END)::BIGINT AS c102,
             |    sum(CASE WHEN pat = '120' THEN c ELSE 0 END)::BIGINT AS c120,
             |    sum(CASE WHEN pat = '201' THEN c ELSE 0 END)::BIGINT AS c201,
             |    sum(CASE WHEN pat = '210' THEN c ELSE 0 END)::BIGINT AS c210,
             |    sum(hterm) AS hsum
             |  FROM pn)
             |SELECT n_windows, c012, c021, c102, c120, c201, c210,
             |  round(hsum::DOUBLE, 6) AS h,
             |  round(hsum::DOUBLE / 1.791759469228055, 6) AS h_norm
             |FROM agg""".stripMargin)),

    // AMS / tug-of-war sketch (Alon, Matias & Szegedy 1996) for the
    // second frequency moment F₂ = Σ_u c_u² of the per-user event
    // counts — THE streaming-join-size / repartition-skew estimator: a
    // single pass keeps s running sums Σ_u ξ_r(u)·c_u of ±1-signed
    // counts and F̂₂ = median_r (sum_r)², unbiased with variance
    // 2F₂²/s. The 9 sign functions are md5-derived (four-wise
    // independence in spirit, bit-replayable in SQL), computed as 9
    // sign COLUMNS over the per-user digest — ONE shuffle on user_id,
    // no explode, no second pass; the 9 estimates ride one array sort
    // on a 9-element list. Every quantity is an exact integer in both
    // engines; the graded output compares the sketch against the
    // exact F₂ from the same digest.
    QueryDef("q_ams_f2_sketch",
      (s, d) => {
        val cu = graft.sources.Tables.events(s, d)
          .groupBy(col("user_id")).agg(count(lit(1)).as("c"))
        val signed = cu.select((col("c") +: (0 until 9).map(r =>
          (conv(substring(md5(concat(lit(s"ams$r:"),
            col("user_id").cast("string"))), 1, 15), 16, 10)
            .cast("long") % 2L * 2L - 1L).as(s"s$r"))): _*)
        val sums = signed.agg(
          sum(col("c").cast("decimal(38,0)") * col("c")).as("f2x"),
          (count(lit(1)).as("nu") +: (0 until 9).map(r =>
            sum(col(s"s$r") * col("c")).as(s"t$r"))): _*)
        sums.select(
            col("nu").as("n_users"),
            col("f2x").cast("long").as("exact_f2"),
            element_at(array_sort(array((0 until 9).map(r =>
              (col(s"t$r") * col(s"t$r")).cast("long")): _*)), 5)
              .as("ams_median"))
          .withColumn("rel_err_pct",
            round(abs(col("ams_median") - col("exact_f2")).cast("double") /
              col("exact_f2").cast("double") * 100.0, 4))
      },
      Some("""WITH cu AS (SELECT user_id, count(*)::BIGINT AS c
             |  FROM events GROUP BY 1),
             |sg AS (SELECT c,
             |""".stripMargin +
        (0 until 9).map(r =>
          s"    (('0x'||substring(md5('ams$r:'||user_id::VARCHAR),1,15))" +
            s"::BIGINT % 2 * 2 - 1) AS s$r").mkString("", ",\n", "\n") +
        """|  FROM cu),
           |sums AS (SELECT sum(c::HUGEINT * c)::BIGINT AS f2x,
           |    count(*)::BIGINT AS nu,
           |""".stripMargin +
        (0 until 9).map(r =>
          s"    sum(s$r * c)::BIGINT AS t$r").mkString("", ",\n", "\n") +
        """|  FROM sg)
           |SELECT nu AS n_users, f2x AS exact_f2,
           |  (list_sort([""".stripMargin +
        (0 until 9).map(r => s"t$r * t$r").mkString(", ") +
        """]))[5]::BIGINT AS ams_median,
           |  round(abs((list_sort([""".stripMargin +
        (0 until 9).map(r => s"t$r * t$r").mkString(", ") +
        """]))[5] - f2x)::DOUBLE / f2x::DOUBLE * 100.0, 4)
           |    AS rel_err_pct
           |FROM sums""".stripMargin)),

    // Hodges–Lehmann estimator (Hodges & Lehmann 1963) of daily event
    // revenue: the median of all Walsh averages (y_i + y_j)/2, i ≤ j —
    // the location estimate the Wilcoxon signed-rank test inverts to,
    // with 29% breakdown and ~0.96 efficiency vs the mean at the
    // Gaussian. Daily totals are exact cents (the DECIMAL(18,2)·100
    // grid), so every Walsh sum is a BIGINT and the median is picked
    // by rank, never averaged in floats: the two middle ranks (equal
    // when the pair count is odd) are summed exactly and divided once
    // at the end. The n(n+1)/2 pair table is CALENDAR-bounded (n days
    // → ~66k pairs at a decade), never data-sized — 100 TB of events
    // still reduces to the same daily digest first.
    QueryDef("q_hodges_lehmann",
      (s, d) => {
        val daily = graft.sources.Tables.events(s, d)
          .groupBy(to_date(col("ts")).as("day"))
          .agg((sum(col("value").cast("decimal(18,2)")) * lit(100))
            .cast("long").as("y"))
        val a = daily.select(col("day").as("d1"), col("y").as("y1"))
        val b = daily.select(col("day").as("d2"), col("y").as("y2"))
        val walsh = a.join(b, col("d1") <= col("d2"))
          .select((col("y1") + col("y2")).as("w"))
          .withColumn("rn", row_number().over(Window.orderBy(col("w"))))
        val np = walsh.agg(count(lit(1)).as("npairs"))
        walsh.crossJoin(broadcast(np))
          .agg(max(col("npairs")).as("n_pairs"),
            (sum(when(col("rn") === expr("(npairs + 1) div 2"), col("w"))
              .otherwise(0L)) +
             sum(when(col("rn") === expr("npairs div 2 + 1"), col("w"))
               .otherwise(0L))).as("m2"))
          .select(col("n_pairs"),
            round(col("m2").cast("double") / 4.0 / 100.0, 4)
              .as("hl_estimate"))
      },
      Some("""WITH daily AS (SELECT ts::DATE AS day,
             |    (sum(CAST(value AS DECIMAL(18,2))) * 100)::BIGINT AS y
             |  FROM events GROUP BY 1),
             |walsh AS (SELECT a.y + b.y AS w
             |  FROM daily a JOIN daily b ON a.day <= b.day),
             |r AS (SELECT w, row_number() OVER (ORDER BY w) AS rn
             |  FROM walsh),
             |np AS (SELECT count(*)::BIGINT AS npairs FROM r)
             |SELECT np.npairs AS n_pairs,
             |  round((sum(CASE WHEN r.rn = (np.npairs + 1) // 2
             |      THEN r.w ELSE 0 END)
             |    + sum(CASE WHEN r.rn = np.npairs // 2 + 1
             |        THEN r.w ELSE 0 END))::DOUBLE / 4.0 / 100.0, 4)
             |    AS hl_estimate
             |FROM r, np GROUP BY np.npairs""".stripMargin)),

    // Breusch–Pagan LM test (Breusch & Pagan 1979) for
    // heteroskedastic daily-revenue trend residuals — "does the
    // variance of the noise grow over time?", the diagnostic that
    // says whether the OLS trend's standard errors can be trusted.
    // Residuals reuse the EXACT scaled-integer form from
    // q_cooks_distance (E_i = n·den·y_i − (den·Σy − num·Σt·? ) −
    // n·num·t_i, a DECIMAL(38,0) with zero float error), descaled
    // once to 4-dp revenue units so the squared residuals u_i = e_i²
    // live on an exact DECIMAL(24,4) grid; the auxiliary regression
    // u ~ t then runs entirely on exact decimal sums and LM = n·R²aux
    // is one float expression at the end. Calendar digest → one
    // shuffle at any data scale; every join broadcast.
    QueryDef("q_breusch_pagan",
      (s, d) => {
        val daily = graft.sources.Tables.events(s, d)
          .groupBy(to_date(col("ts")).as("day"))
          .agg((sum(col("value").cast("decimal(18,2)")) * lit(100))
            .cast("long").as("y"))
          .withColumn("t",
            (row_number().over(Window.orderBy(col("day"))) - 1)
              .cast("long"))
        val g = broadcast(daily.agg(count(lit(1)).as("n"),
          sum(col("t")).as("st"), sum(col("y")).as("sy"),
          sum(col("t") * col("t")).as("stt"),
          sum(col("t") * col("y")).as("sty")))
        val e = daily.crossJoin(g)
          .withColumn("num", expr("n * sty - st * sy"))
          .withColumn("den", expr("n * stt - st * st"))
          .withColumn("u", expr(
            """cast(round(
              |  cast(cast(n as decimal(38,0)) * den * y
              |       - (cast(den as decimal(38,0)) * sy
              |          - cast(num as decimal(38,0)) * st)
              |       - cast(n as decimal(38,0)) * num * t as double)
              |  / (cast(n as double) * cast(den as double)) / 100.0,
              |  4) as decimal(24,4))""".stripMargin))
          .withColumn("u2", expr("cast(u * u as decimal(38,8))"))
        val aux = e.agg(
          max(col("n")).as("n"), max(col("st")).as("st"),
          max(col("stt")).as("stt"),
          sum(col("u2")).as("su"),
          sum(col("u2") * col("u2")).as("suu"),
          sum(col("t").cast("decimal(20,0)") * col("u2")).as("stu"))
        aux.select(col("n").as("n_days"),
          round((col("n").cast("double") * col("stu").cast("double") -
            col("st").cast("double") * col("su").cast("double")) /
            sqrt((col("n").cast("double") * col("stt").cast("double") -
              col("st").cast("double") * col("st").cast("double")) *
              (col("n").cast("double") * col("suu").cast("double") -
                col("su").cast("double") * col("su").cast("double"))), 6)
            .as("r_aux"),
          round(col("n").cast("double") *
            pow((col("n").cast("double") * col("stu").cast("double") -
              col("st").cast("double") * col("su").cast("double")) /
              sqrt((col("n").cast("double") * col("stt").cast("double") -
                col("st").cast("double") * col("st").cast("double")) *
                (col("n").cast("double") * col("suu").cast("double") -
                  col("su").cast("double") * col("su").cast("double"))),
              2.0), 6).as("lm_stat"))
      },
      Some("""WITH daily AS (SELECT day,
             |    row_number() OVER (ORDER BY day) - 1 AS t, y FROM (
             |    SELECT ts::DATE AS day,
             |      (sum(CAST(value AS DECIMAL(18,2))) * 100)::BIGINT AS y
             |    FROM events GROUP BY 1)),
             |g AS (SELECT count(*)::BIGINT AS n, sum(t)::BIGINT AS st,
             |    sum(y)::BIGINT AS sy, sum(t * t)::BIGINT AS stt,
             |    sum(t * y)::BIGINT AS sty FROM daily),
             |e AS (SELECT daily.t, g.n, g.st, g.stt,
             |    round(
             |      (g.n::HUGEINT * (g.n * g.stt - g.st * g.st) * daily.y
             |       - ((g.n * g.stt - g.st * g.st)::HUGEINT * g.sy
             |          - (g.n * g.sty - g.st * g.sy)::HUGEINT * g.st)
             |       - g.n::HUGEINT * (g.n * g.sty - g.st * g.sy)
             |         * daily.t)::DOUBLE
             |      / (g.n::DOUBLE * (g.n * g.stt - g.st * g.st)::DOUBLE)
             |      / 100.0, 4)::DECIMAL(24,4) AS u
             |  FROM daily, g),
             |e2 AS (SELECT t, n, st, stt,
             |    (u * u)::DECIMAL(38,8) AS u2 FROM e),
             |aux AS (SELECT max(n)::BIGINT AS n, max(st)::BIGINT AS st,
             |    max(stt)::BIGINT AS stt, sum(u2) AS su,
             |    sum(u2 * u2) AS suu,
             |    sum(t::DECIMAL(20,0) * u2) AS stu FROM e2)
             |SELECT n AS n_days,
             |  round((n::DOUBLE * stu::DOUBLE - st::DOUBLE * su::DOUBLE)
             |    / sqrt((n::DOUBLE * stt::DOUBLE - st::DOUBLE * st::DOUBLE)
             |      * (n::DOUBLE * suu::DOUBLE - su::DOUBLE * su::DOUBLE)),
             |    6) AS r_aux,
             |  round(n::DOUBLE * pow(
             |    (n::DOUBLE * stu::DOUBLE - st::DOUBLE * su::DOUBLE)
             |    / sqrt((n::DOUBLE * stt::DOUBLE - st::DOUBLE * st::DOUBLE)
             |      * (n::DOUBLE * suu::DOUBLE - su::DOUBLE * su::DOUBLE)),
             |    2.0), 6) AS lm_stat
             |FROM aux""".stripMargin)),

    // Chow structural-break test (Chow 1960) on the daily-revenue
    // trend: split the calendar at its midpoint, fit the OLS line to
    // each half and to the pool, and test whether one line fits as
    // well as two — F = ((RSSp − RSS1 − RSS2)/k) / ((RSS1+RSS2)/
    // (n−2k)), k = 2. Each RSS is the closed form Syy − num²/den
    // computed from EXACT integer sums (cents grid): RSS·den =
    // den·Syy_c − num² is a DECIMAL(38,0) with zero rounding until
    // the single final float division. The halves come from one
    // conditional aggregation over the calendar digest — one
    // shuffle, one broadcast, no second pass.
    QueryDef("q_chow_test",
      (s, d) => {
        val daily = graft.sources.Tables.events(s, d)
          .groupBy(to_date(col("ts")).as("day"))
          .agg((sum(col("value").cast("decimal(18,2)")) * lit(100))
            .cast("long").as("y"))
          .withColumn("t",
            (row_number().over(Window.orderBy(col("day"))) - 1)
              .cast("long"))
        val n0 = broadcast(daily.agg(count(lit(1)).as("nn")))
        val marked = daily.crossJoin(n0)
          .withColumn("h", when(col("t") < expr("nn div 2"), 1).otherwise(2))
        def sums(pred: org.apache.spark.sql.Column, tag: String) = Seq(
          sum(when(pred, lit(1L)).otherwise(0L)).as(s"n$tag"),
          sum(when(pred, col("t")).otherwise(0L)).as(s"st$tag"),
          sum(when(pred, col("y")).otherwise(0L)).as(s"sy$tag"),
          sum(when(pred, col("t") * col("t")).otherwise(0L)).as(s"stt$tag"),
          sum(when(pred, col("t").cast("decimal(38,0)") * col("y"))
            .otherwise(lit(0).cast("decimal(38,0)"))).as(s"sty$tag"),
          sum(when(pred, col("y").cast("decimal(38,0)") * col("y"))
            .otherwise(lit(0).cast("decimal(38,0)"))).as(s"syy$tag"))
        val allSums = sums(lit(true), "p") ++ sums(col("h") === 1, "1") ++
          sums(col("h") === 2, "2")
        val agg = marked.agg(allSums.head, allSums.tail: _*)
        def rss(tag: String) =
          s"""(cast(syy$tag as double)
             |  - cast(sy$tag as double) * cast(sy$tag as double)
             |    / cast(n$tag as double)
             |  - (cast(cast(n$tag as decimal(38,0)) * sty$tag
             |          - cast(st$tag as decimal(38,0)) * sy$tag
             |          as double)
             |     * cast(cast(n$tag as decimal(38,0)) * sty$tag
             |            - cast(st$tag as decimal(38,0)) * sy$tag
             |            as double))
             |    / (cast(n$tag as double)
             |       * cast(cast(n$tag as decimal(38,0)) * stt$tag
             |              - cast(st$tag as decimal(38,0)) * st$tag
             |              as double))) / 10000.0""".stripMargin
        agg.select(col("np").as("n_days"), col("n1").as("n_first"),
          round(expr(rss("p")), 4).as("rss_pooled"),
          round(expr(rss("1")), 4).as("rss_first"),
          round(expr(rss("2")), 4).as("rss_second"),
          round(expr(
            s"""((${rss("p")} - ${rss("1")} - ${rss("2")}) / 2.0)
               | / ((${rss("1")} + ${rss("2")})
               |    / cast(np - 4 as double))""".stripMargin), 6)
            .as("f_stat"))
      },
      Some("""WITH daily AS (SELECT day,
             |    row_number() OVER (ORDER BY day) - 1 AS t, y FROM (
             |    SELECT ts::DATE AS day,
             |      (sum(CAST(value AS DECIMAL(18,2))) * 100)::BIGINT AS y
             |    FROM events GROUP BY 1)),
             |n0 AS (SELECT count(*)::BIGINT AS nn FROM daily),
             |m AS (SELECT daily.t, daily.y,
             |    CASE WHEN daily.t < n0.nn // 2 THEN 1 ELSE 2 END AS h
             |  FROM daily, n0),
             |a AS (SELECT
             |    count(*)::BIGINT AS np, sum(t)::BIGINT AS stp,
             |    sum(y)::BIGINT AS syp, sum(t * t)::BIGINT AS sttp,
             |    sum(t::HUGEINT * y) AS styp, sum(y::HUGEINT * y) AS syyp,
             |    sum(CASE WHEN h = 1 THEN 1 ELSE 0 END)::BIGINT AS n1,
             |    sum(CASE WHEN h = 1 THEN t ELSE 0 END)::BIGINT AS st1,
             |    sum(CASE WHEN h = 1 THEN y ELSE 0 END)::BIGINT AS sy1,
             |    sum(CASE WHEN h = 1 THEN t * t ELSE 0 END)::BIGINT
             |      AS stt1,
             |    sum(CASE WHEN h = 1 THEN t::HUGEINT * y
             |        ELSE 0::HUGEINT END) AS sty1,
             |    sum(CASE WHEN h = 1 THEN y::HUGEINT * y
             |        ELSE 0::HUGEINT END) AS syy1,
             |    sum(CASE WHEN h = 2 THEN 1 ELSE 0 END)::BIGINT AS n2,
             |    sum(CASE WHEN h = 2 THEN t ELSE 0 END)::BIGINT AS st2,
             |    sum(CASE WHEN h = 2 THEN y ELSE 0 END)::BIGINT AS sy2,
             |    sum(CASE WHEN h = 2 THEN t * t ELSE 0 END)::BIGINT
             |      AS stt2,
             |    sum(CASE WHEN h = 2 THEN t::HUGEINT * y
             |        ELSE 0::HUGEINT END) AS sty2,
             |    sum(CASE WHEN h = 2 THEN y::HUGEINT * y
             |        ELSE 0::HUGEINT END) AS syy2
             |  FROM m),
             |r AS (SELECT np, n1,
             |    (syyp::DOUBLE - syp::DOUBLE * syp::DOUBLE / np::DOUBLE
             |      - ((np::HUGEINT * styp
             |        - stp::HUGEINT * syp)::DOUBLE
             |      * (np::HUGEINT * styp - stp::HUGEINT * syp)::DOUBLE)
             |      / (np::DOUBLE
             |        * (np::HUGEINT * sttp - stp::HUGEINT * stp)::DOUBLE))
             |      / 10000.0 AS rssp,
             |    (syy1::DOUBLE - sy1::DOUBLE * sy1::DOUBLE / n1::DOUBLE
             |      - ((n1::HUGEINT * sty1
             |        - st1::HUGEINT * sy1)::DOUBLE
             |      * (n1::HUGEINT * sty1 - st1::HUGEINT * sy1)::DOUBLE)
             |      / (n1::DOUBLE
             |        * (n1::HUGEINT * stt1 - st1::HUGEINT * st1)::DOUBLE))
             |      / 10000.0 AS rss1,
             |    (syy2::DOUBLE - sy2::DOUBLE * sy2::DOUBLE / n2::DOUBLE
             |      - ((n2::HUGEINT * sty2
             |        - st2::HUGEINT * sy2)::DOUBLE
             |      * (n2::HUGEINT * sty2 - st2::HUGEINT * sy2)::DOUBLE)
             |      / (n2::DOUBLE
             |        * (n2::HUGEINT * stt2 - st2::HUGEINT * st2)::DOUBLE))
             |      / 10000.0 AS rss2
             |  FROM a)
             |SELECT np AS n_days, n1 AS n_first,
             |  round(rssp, 4) AS rss_pooled,
             |  round(rss1, 4) AS rss_first,
             |  round(rss2, 4) AS rss_second,
             |  round(((rssp - rss1 - rss2) / 2.0)
             |    / ((rss1 + rss2) / (np - 4)::DOUBLE), 6) AS f_stat
             |FROM r""".stripMargin)),

    // Schuster periodogram (Schuster 1898) of the daily event-count
    // series — "what periodicities drive the traffic?" scanned over
    // candidate periods 2..14 days. The series is mean-centered
    // EXACTLY in integers (c_t = n·y_t − Σy, a BIGINT — no float
    // mean), each cos/sin product is quantized to a 6-dp DECIMAL
    // term so the sums are order-independent across partitions, and
    // P(p) = (Σc·cos)² + (Σc·sin)² normalizes by n²·something only
    // at the final SELECT. The angle constant embeds π as the same
    // 16-digit literal in both engines. Calendar digest × 13 periods
    // ≈ a few thousand rows at any data scale — one shuffle on day,
    // one on period.
    QueryDef("q_periodogram",
      (s, d) => {
        val ev = graft.sources.Tables.events(s, d)
        val daily = ev.groupBy(to_date(col("ts")).as("day"))
          .agg(count(lit(1)).as("y"))
          .withColumn("t",
            (row_number().over(Window.orderBy(col("day"))) - 1)
              .cast("long"))
        val g = broadcast(daily.agg(count(lit(1)).as("n"),
          sum(col("y")).as("sy")))
        val c = daily.crossJoin(g)
          .select(col("t"), col("n"),
            (col("n") * col("y") - col("sy")).as("c"))
        val terms = c.crossJoin(
            broadcast(s.range(2, 15).toDF("p")))
          .select(col("p"), col("n"),
            expr("""cast(round(cast(c as double) * cos(
              |  2.0 * 3.141592653589793 * cast(t % p as double)
              |  / cast(p as double)), 6) as decimal(38,6))"""
              .stripMargin).as("tc"),
            expr("""cast(round(cast(c as double) * sin(
              |  2.0 * 3.141592653589793 * cast(t % p as double)
              |  / cast(p as double)), 6) as decimal(38,6))"""
              .stripMargin).as("ts"))
        terms.groupBy(col("p"))
          .agg(max(col("n")).as("n"),
            sum(col("tc")).as("sc"), sum(col("ts")).as("ss"))
          .select(col("p").as("period_days"),
            round((col("sc").cast("double") * col("sc").cast("double") +
              col("ss").cast("double") * col("ss").cast("double")) /
              (col("n").cast("double") * col("n").cast("double") *
                col("n").cast("double")), 4).as("power"))
          .orderBy(col("period_days"))
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
             |agg AS (SELECT p, max(n)::BIGINT AS n, sum(tc) AS sc,
             |    sum(ts) AS ss FROM terms GROUP BY 1)
             |SELECT p AS period_days,
             |  round((sc::DOUBLE * sc::DOUBLE + ss::DOUBLE * ss::DOUBLE)
             |    / (n::DOUBLE * n::DOUBLE * n::DOUBLE), 4) AS power
             |FROM agg ORDER BY period_days""".stripMargin)),

    // Sample entropy (Richman & Moorman 2000), m = 2, r = ⌊0.2·σ⌋,
    // on the daily event-count series — the regularity statistic
    // that, unlike ApEn, excludes self-matches and so is unbiased
    // for short series. All comparisons are INTEGER: counts are
    // BIGINT, the tolerance is floored onto the integer count grid
    // (σ from exact sums → identical double → identical floor in
    // both engines), and A/B are exact pair counts from ONE
    // calendar-bounded self-join over the N−2 templates (i<j, so no
    // self-matches, each unordered pair once). SampEn = −ln(A/B) is
    // the only float, rounded once. 100 TB of events still reduces
    // to the same ~n_days² template-pair table.
    QueryDef("q_sample_entropy",
      (s, d) => {
        val daily = graft.sources.Tables.events(s, d)
          .groupBy(to_date(col("ts")).as("day"))
          .agg(count(lit(1)).as("y"))
          .withColumn("t",
            row_number().over(Window.orderBy(col("day"))).cast("long"))
        val tpl = daily
          .withColumn("x1", lead(col("y"), 1).over(Window.orderBy(col("t"))))
          .withColumn("x2", lead(col("y"), 2).over(Window.orderBy(col("t"))))
          .filter(col("x2").isNotNull)
          .select(col("t"), col("y").as("x0"), col("x1"), col("x2"))
        val rTol = broadcast(daily.agg(count(lit(1)).as("n"),
            sum(col("y")).as("sy"),
            sum(col("y").cast("decimal(38,0)") * col("y")).as("syy"))
          .select(col("n"),
            greatest(lit(1L), floor(lit(0.2) *
              sqrt((col("n").cast("double") * col("syy").cast("double") -
                col("sy").cast("double") * col("sy").cast("double")) /
                (col("n").cast("double") *
                  (col("n").cast("double") - 1.0))))
              .cast("long")).as("r")))
        val a = tpl.select(col("t").as("ti"), col("x0").as("a0"),
          col("x1").as("a1"), col("x2").as("a2"))
        val b = tpl.select(col("t").as("tj"), col("x0").as("b0"),
          col("x1").as("b1"), col("x2").as("b2"))
        a.join(b, col("ti") < col("tj")).crossJoin(rTol)
          .agg(max(col("n")).as("n_days"), max(col("r")).as("r_tol"),
            sum(when(greatest(abs(col("a0") - col("b0")),
              abs(col("a1") - col("b1"))) <= col("r"), 1L)
              .otherwise(0L)).as("b_count"),
            sum(when(greatest(abs(col("a0") - col("b0")),
              abs(col("a1") - col("b1")),
              abs(col("a2") - col("b2"))) <= col("r"), 1L)
              .otherwise(0L)).as("a_count"))
          .select(col("n_days"), col("r_tol"), col("b_count"),
            col("a_count"),
            when(col("a_count") > 0 && col("b_count") > 0,
              round(-log(col("a_count").cast("double") /
                col("b_count").cast("double")), 6)).as("sampen"))
      },
      Some("""WITH daily AS (SELECT
             |    row_number() OVER (ORDER BY day) AS t, y FROM (
             |    SELECT ts::DATE AS day, count(*)::BIGINT AS y
             |    FROM events GROUP BY 1)),
             |tpl AS (SELECT t, y AS x0,
             |    lead(y, 1) OVER (ORDER BY t) AS x1,
             |    lead(y, 2) OVER (ORDER BY t) AS x2
             |  FROM daily QUALIFY x2 IS NOT NULL),
             |rt AS (SELECT count(*)::BIGINT AS n,
             |    greatest(1, floor(0.2 * sqrt(
             |      (count(*)::DOUBLE * sum(y::HUGEINT * y)::DOUBLE
             |       - sum(y)::DOUBLE * sum(y)::DOUBLE)
             |      / (count(*)::DOUBLE * (count(*)::DOUBLE - 1.0)))))
             |      ::BIGINT AS r
             |  FROM daily)
             |SELECT max(rt.n)::BIGINT AS n_days,
             |  max(rt.r)::BIGINT AS r_tol,
             |  sum(CASE WHEN greatest(abs(a.x0 - b.x0), abs(a.x1 - b.x1))
             |      <= rt.r THEN 1 ELSE 0 END)::BIGINT AS b_count,
             |  sum(CASE WHEN greatest(abs(a.x0 - b.x0), abs(a.x1 - b.x1),
             |      abs(a.x2 - b.x2)) <= rt.r THEN 1 ELSE 0 END)::BIGINT
             |    AS a_count,
             |  CASE WHEN sum(CASE WHEN greatest(abs(a.x0 - b.x0),
             |      abs(a.x1 - b.x1), abs(a.x2 - b.x2)) <= rt.r
             |      THEN 1 ELSE 0 END) > 0
             |    AND sum(CASE WHEN greatest(abs(a.x0 - b.x0),
             |      abs(a.x1 - b.x1)) <= rt.r THEN 1 ELSE 0 END) > 0
             |  THEN round(-ln(
             |    sum(CASE WHEN greatest(abs(a.x0 - b.x0), abs(a.x1 - b.x1),
             |        abs(a.x2 - b.x2)) <= rt.r THEN 1 ELSE 0 END)::DOUBLE
             |    / sum(CASE WHEN greatest(abs(a.x0 - b.x0),
             |        abs(a.x1 - b.x1)) <= rt.r THEN 1 ELSE 0 END)::DOUBLE),
             |    6) END AS sampen
             |FROM tpl a JOIN tpl b ON a.t < b.t, rt""".stripMargin)),

    // Bass diffusion model (Bass 1969) fit to the user-adoption
    // curve: daily NEW adopters n_t (first-seen users) regressed on
    // cumulative adopters, n_t = a + b·C_{t−1} + c·C²_{t−1}, the
    // discrete-time Bass estimator — innovation p = a/m, imitation
    // q = b + p, market size m from the quadratic root. The moment
    // matrix (ΣC..ΣC⁴, Σn, ΣnC, ΣnC²) is EXACT DECIMAL(38,0) over
    // the calendar digest (C⁴·days stays < 1e38 to ~1.7e9 adopters —
    // beyond any real corpus), and the 3×3 normal equations are
    // solved by Cramer determinants in doubles at the very end, same
    // expression shape in both engines. One shuffle on user_id (the
    // first-seen reduction), one on day; everything after is a
    // broadcast of one row.
    QueryDef("q_bass_diffusion",
      (s, d) => {
        val ev = graft.sources.Tables.events(s, d)
        val firstSeen = ev.groupBy(col("user_id"))
          .agg(min(to_date(col("ts"))).as("day"))
          .groupBy(col("day")).agg(count(lit(1)).as("a_t"))
        val spine = ev.agg(min(to_date(col("ts"))).as("d0"),
            max(to_date(col("ts"))).as("d1"))
          .select(explode(expr("sequence(d0, d1)")).as("day"))
        val series = spine.join(firstSeen, Seq("day"), "left")
          .select(col("day"), coalesce(col("a_t"), lit(0L)).as("n_t"))
          .withColumn("cprev",
            coalesce(sum(col("n_t")).over(Window.orderBy(col("day"))
              .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
        val m0 = series.agg(count(lit(1)).as("nd"),
          sum(col("cprev").cast("decimal(38,0)")).as("s1"),
          sum(col("cprev").cast("decimal(38,0)") * col("cprev")).as("s2"),
          sum(col("cprev").cast("decimal(38,0)") * col("cprev") *
            col("cprev")).as("s3"),
          sum(col("cprev").cast("decimal(38,0)") * col("cprev") *
            col("cprev") * col("cprev")).as("s4"),
          sum(col("n_t").cast("decimal(38,0)")).as("sy"),
          sum(col("n_t").cast("decimal(38,0)") * col("cprev")).as("sxy"),
          sum(col("n_t").cast("decimal(38,0)") * col("cprev") *
            col("cprev")).as("sx2y"))
        // Cramer solve of [[nd,s1,s2],[s1,s2,s3],[s2,s3,s4]]·β =
        // [sy,sxy,sx2y] — identical double-expression shape as the
        // oracle's det/det divisions.
        val det =
          """(cast(nd as double) * (cast(s2 as double) * cast(s4 as double)
            |    - cast(s3 as double) * cast(s3 as double))
            |  - cast(s1 as double) * (cast(s1 as double) * cast(s4 as double)
            |    - cast(s3 as double) * cast(s2 as double))
            |  + cast(s2 as double) * (cast(s1 as double) * cast(s3 as double)
            |    - cast(s2 as double) * cast(s2 as double)))""".stripMargin
        val da =
          """(cast(sy as double) * (cast(s2 as double) * cast(s4 as double)
            |    - cast(s3 as double) * cast(s3 as double))
            |  - cast(s1 as double) * (cast(sxy as double) * cast(s4 as double)
            |    - cast(s3 as double) * cast(sx2y as double))
            |  + cast(s2 as double) * (cast(sxy as double) * cast(s3 as double)
            |    - cast(s2 as double) * cast(sx2y as double)))""".stripMargin
        val db =
          """(cast(nd as double) * (cast(sxy as double) * cast(s4 as double)
            |    - cast(s3 as double) * cast(sx2y as double))
            |  - cast(sy as double) * (cast(s1 as double) * cast(s4 as double)
            |    - cast(s3 as double) * cast(s2 as double))
            |  + cast(s2 as double) * (cast(s1 as double) * cast(sx2y as double)
            |    - cast(sxy as double) * cast(s2 as double)))""".stripMargin
        val dc =
          """(cast(nd as double) * (cast(s2 as double) * cast(sx2y as double)
            |    - cast(sxy as double) * cast(s3 as double))
            |  - cast(s1 as double) * (cast(s1 as double) * cast(sx2y as double)
            |    - cast(sxy as double) * cast(s2 as double))
            |  + cast(sy as double) * (cast(s1 as double) * cast(s3 as double)
            |    - cast(s2 as double) * cast(s2 as double)))""".stripMargin
        m0.select(col("nd").as("n_days"),
            round(expr(s"CASE WHEN $det = 0.0 THEN NULL ELSE $da / $det END"),
              6).as("coef_a"),
            round(expr(s"CASE WHEN $det = 0.0 THEN NULL ELSE $db / $det END"),
              9).as("coef_b"),
            expr(s"CASE WHEN $det = 0.0 THEN NULL ELSE $da / $det END")
              .as("_a"),
            expr(s"CASE WHEN $det = 0.0 THEN NULL ELSE $db / $det END")
              .as("_b"),
            expr(s"CASE WHEN $det = 0.0 THEN NULL ELSE $dc / $det END")
              .as("_c"))
          .withColumn("m_hat", when(col("_c") < 0 &&
              (col("_b") * col("_b") - lit(4.0) * col("_a") * col("_c")) >= 0,
            (-col("_b") - sqrt(col("_b") * col("_b") -
              lit(4.0) * col("_a") * col("_c"))) / (lit(2.0) * col("_c"))))
          .select(col("n_days"), col("coef_a"), col("coef_b"),
            round(col("m_hat"), 2).as("market_size"),
            round(col("_a") / col("m_hat"), 9).as("p_innovation"),
            round(col("_b") + col("_a") / col("m_hat"), 9)
              .as("q_imitation"))
      },
      Some("""WITH fs AS (SELECT min(ts::DATE) AS day FROM events
             |  GROUP BY user_id),
             |ad AS (SELECT day, count(*)::BIGINT AS a_t FROM fs
             |  GROUP BY 1),
             |sp AS (SELECT min(ts::DATE) AS d0, max(ts::DATE) AS d1
             |  FROM events),
             |spine AS (SELECT unnest(generate_series(sp.d0, sp.d1,
             |    INTERVAL 1 DAY))::DATE AS day FROM sp),
             |series AS (SELECT spine.day,
             |    coalesce(ad.a_t, 0)::BIGINT AS n_t
             |  FROM spine LEFT JOIN ad USING (day)),
             |cs AS (SELECT day, n_t, coalesce(sum(n_t) OVER (
             |    ORDER BY day ROWS BETWEEN UNBOUNDED PRECEDING
             |    AND 1 PRECEDING), 0)::BIGINT AS cprev FROM series),
             |m0 AS (SELECT count(*)::BIGINT AS nd,
             |    sum(cprev::HUGEINT) AS s1,
             |    sum(cprev::HUGEINT * cprev) AS s2,
             |    sum(cprev::HUGEINT * cprev * cprev) AS s3,
             |    sum(cprev::HUGEINT * cprev * cprev * cprev) AS s4,
             |    sum(n_t::HUGEINT) AS sy,
             |    sum(n_t::HUGEINT * cprev) AS sxy,
             |    sum(n_t::HUGEINT * cprev * cprev) AS sx2y
             |  FROM cs),
             |det0 AS (SELECT nd, s1, s2, s3, s4, sy, sxy, sx2y,
             |    (nd::DOUBLE * (s2::DOUBLE * s4::DOUBLE
             |        - s3::DOUBLE * s3::DOUBLE)
             |      - s1::DOUBLE * (s1::DOUBLE * s4::DOUBLE
             |        - s3::DOUBLE * s2::DOUBLE)
             |      + s2::DOUBLE * (s1::DOUBLE * s3::DOUBLE
             |        - s2::DOUBLE * s2::DOUBLE)) AS det
             |  FROM m0),
             |sol AS (SELECT nd,
             |    CASE WHEN det = 0.0 THEN NULL ELSE
             |    (sy::DOUBLE * (s2::DOUBLE * s4::DOUBLE
             |        - s3::DOUBLE * s3::DOUBLE)
             |      - s1::DOUBLE * (sxy::DOUBLE * s4::DOUBLE
             |        - s3::DOUBLE * sx2y::DOUBLE)
             |      + s2::DOUBLE * (sxy::DOUBLE * s3::DOUBLE
             |        - s2::DOUBLE * sx2y::DOUBLE)) / det END AS a,
             |    CASE WHEN det = 0.0 THEN NULL ELSE
             |    (nd::DOUBLE * (sxy::DOUBLE * s4::DOUBLE
             |        - s3::DOUBLE * sx2y::DOUBLE)
             |      - sy::DOUBLE * (s1::DOUBLE * s4::DOUBLE
             |        - s3::DOUBLE * s2::DOUBLE)
             |      + s2::DOUBLE * (s1::DOUBLE * sx2y::DOUBLE
             |        - sxy::DOUBLE * s2::DOUBLE)) / det END AS b,
             |    CASE WHEN det = 0.0 THEN NULL ELSE
             |    (nd::DOUBLE * (s2::DOUBLE * sx2y::DOUBLE
             |        - sxy::DOUBLE * s3::DOUBLE)
             |      - s1::DOUBLE * (s1::DOUBLE * sx2y::DOUBLE
             |        - sxy::DOUBLE * s2::DOUBLE)
             |      + sy::DOUBLE * (s1::DOUBLE * s3::DOUBLE
             |        - s2::DOUBLE * s2::DOUBLE)) / det END AS c
             |  FROM det0),
             |mh AS (SELECT nd, a, b, c,
             |    CASE WHEN c < 0 AND b * b - 4.0 * a * c >= 0
             |      THEN (-b - sqrt(b * b - 4.0 * a * c)) / (2.0 * c)
             |      END AS m_hat
             |  FROM sol)
             |SELECT nd AS n_days, round(a, 6) AS coef_a,
             |  round(b, 9) AS coef_b,
             |  round(m_hat, 2) AS market_size,
             |  round(a / m_hat, 9) AS p_innovation,
             |  round(b + a / m_hat, 9) AS q_imitation
             |FROM mh""".stripMargin)),

    // Weibull reliability fit by median-rank regression (Benard's
    // approximation) over inter-purchase gaps — the distribution fit
    // behind "how bursty is purchase cadence?" (shape k < 1 =
    // clustered/bursty, k ≈ 1 = memoryless, k > 1 = regular). Gaps
    // quantize to a MINUTE grid, so the working set is a value-
    // range-bounded cell digest (gap cells × counts), never
    // data-sized; per-cell midpoint ranks come exactly from the
    // cumulative counts (2r̄ = 2·cum_prev + c + 1, an integer), and
    // the weighted ln-ln OLS runs on 9-dp-quantized DECIMAL terms so
    // partition order can't perturb the sums. ln(gap) and the final
    // k, λ are the only doubles, identical expression shape both
    // engines.
    QueryDef("q_weibull_fit",
      (s, d) => {
        val wSeq = Window.partitionBy(col("user_id"))
          .orderBy(col("ts"), col("event_id"))
        val gaps = graft.sources.Tables.events(s, d)
          .filter(col("event_type") === "purchase")
          .withColumn("prev_us", lag(unix_micros(col("ts")), 1).over(wSeq))
          .filter(col("prev_us").isNotNull)
          .select(greatest(lit(1L),
            expr("(unix_micros(ts) - prev_us) div 60000000")).as("gmin"))
        // r17 window audit: distributed prefix sum (exclusive form =
        // inclusive − own count) instead of the unpartitioned window
        // over the gap-minutes digest (7.1k rows through one task at
        // sf0.1, growing with the covered time span)
        val cells = graft.analytics.Ranks.withRunningSum(
            gaps.groupBy(col("gmin")).agg(count(lit(1)).as("c")),
            "c", "__cuminc", Seq("gmin" -> false))
          .withColumn("cum_prev", col("__cuminc") - col("c"))
          .drop("__cuminc")
        val n0 = broadcast(cells.agg(sum(col("c")).as("n")))
        val terms = cells.crossJoin(n0)
          // F̄ from Benard midpoint rank: (2·cum_prev + c + 1 − 0.6)
          // / (2n + 0.8); x = ln(gmin), y = ln(−ln(1 − F̄))
          .withColumn("x", log(col("gmin").cast("double")))
          .withColumn("y", log(-log(lit(1.0) -
            (lit(2.0) * col("cum_prev") + col("c") + lit(0.4)) /
              (lit(2.0) * col("n") + lit(0.8)))))
          .select(col("n"),
            col("c").cast("decimal(38,9)").as("w"),
            expr("cast(round(c * x, 9) as decimal(38,9))").as("wx"),
            expr("cast(round(c * y, 9) as decimal(38,9))").as("wy"),
            expr("cast(round(c * x * x, 9) as decimal(38,9))").as("wxx"),
            expr("cast(round(c * x * y, 9) as decimal(38,9))").as("wxy"))
        terms.agg(max(col("n")).as("n_gaps"),
            sum(col("w")).as("sw"), sum(col("wx")).as("swx"),
            sum(col("wy")).as("swy"), sum(col("wxx")).as("swxx"),
            sum(col("wxy")).as("swxy"))
          .select(col("n_gaps"),
            round(expr(
              """CASE WHEN cast(sw as double) * cast(swxx as double)
                | - cast(swx as double) * cast(swx as double) = 0.0
                |THEN NULL ELSE
                |(cast(sw as double) * cast(swxy as double)
                | - cast(swx as double) * cast(swy as double))
                |/ (cast(sw as double) * cast(swxx as double)
                | - cast(swx as double) * cast(swx as double)) END"""
                .stripMargin), 6).as("shape_k"),
            round(expr(
              """CASE WHEN cast(sw as double) * cast(swxx as double)
                | - cast(swx as double) * cast(swx as double) = 0.0
                | OR cast(sw as double) * cast(swxy as double)
                | - cast(swx as double) * cast(swy as double) = 0.0
                |THEN NULL ELSE
                |exp(-(
                |  (cast(swy as double)
                |   - ((cast(sw as double) * cast(swxy as double)
                |       - cast(swx as double) * cast(swy as double))
                |      / (cast(sw as double) * cast(swxx as double)
                |       - cast(swx as double) * cast(swx as double)))
                |     * cast(swx as double))
                |  / cast(sw as double))
                |/ ((cast(sw as double) * cast(swxy as double)
                |    - cast(swx as double) * cast(swy as double))
                |   / (cast(sw as double) * cast(swxx as double)
                |    - cast(swx as double) * cast(swx as double)))) END"""
                .stripMargin), 4).as("scale_minutes"))
      },
      Some("""WITH p AS (SELECT user_id, epoch_us(ts) AS us, ts,
             |    event_id FROM events WHERE event_type = 'purchase'),
             |g AS (SELECT greatest(1, (us - lag(us) OVER (
             |      PARTITION BY user_id ORDER BY ts, event_id))
             |      // 60000000)::BIGINT AS gmin
             |  FROM p QUALIFY lag(us) OVER (PARTITION BY user_id
             |    ORDER BY ts, event_id) IS NOT NULL),
             |cells AS (SELECT gmin, count(*)::BIGINT AS c FROM g
             |  GROUP BY 1),
             |cum AS (SELECT gmin, c, coalesce(sum(c) OVER (
             |    ORDER BY gmin ROWS BETWEEN UNBOUNDED PRECEDING
             |    AND 1 PRECEDING), 0)::BIGINT AS cum_prev FROM cells),
             |n0 AS (SELECT sum(c)::BIGINT AS n FROM cells),
             |t AS (SELECT n0.n, cum.c,
             |    ln(cum.gmin::DOUBLE) AS x,
             |    ln(-ln(1.0 - (2.0 * cum.cum_prev + cum.c + 0.4)
             |      / (2.0 * n0.n + 0.8))) AS y
             |  FROM cum, n0),
             |q AS (SELECT n, c::DECIMAL(38,9) AS w,
             |    round(c * x, 9)::DECIMAL(38,9) AS wx,
             |    round(c * y, 9)::DECIMAL(38,9) AS wy,
             |    round(c * x * x, 9)::DECIMAL(38,9) AS wxx,
             |    round(c * x * y, 9)::DECIMAL(38,9) AS wxy
             |  FROM t),
             |a AS (SELECT max(n)::BIGINT AS n_gaps, sum(w) AS sw,
             |    sum(wx) AS swx, sum(wy) AS swy, sum(wxx) AS swxx,
             |    sum(wxy) AS swxy FROM q)
             |SELECT n_gaps,
             |  round(CASE WHEN sw::DOUBLE * swxx::DOUBLE
             |      - swx::DOUBLE * swx::DOUBLE = 0.0 THEN NULL ELSE
             |    (sw::DOUBLE * swxy::DOUBLE
             |      - swx::DOUBLE * swy::DOUBLE)
             |    / (sw::DOUBLE * swxx::DOUBLE
             |      - swx::DOUBLE * swx::DOUBLE) END, 6) AS shape_k,
             |  round(CASE WHEN sw::DOUBLE * swxx::DOUBLE
             |      - swx::DOUBLE * swx::DOUBLE = 0.0
             |      OR sw::DOUBLE * swxy::DOUBLE
             |      - swx::DOUBLE * swy::DOUBLE = 0.0 THEN NULL ELSE
             |    exp(-(
             |      (swy::DOUBLE
             |       - ((sw::DOUBLE * swxy::DOUBLE
             |           - swx::DOUBLE * swy::DOUBLE)
             |          / (sw::DOUBLE * swxx::DOUBLE
             |           - swx::DOUBLE * swx::DOUBLE)) * swx::DOUBLE)
             |      / sw::DOUBLE)
             |    / ((sw::DOUBLE * swxy::DOUBLE
             |        - swx::DOUBLE * swy::DOUBLE)
             |       / (sw::DOUBLE * swxx::DOUBLE
             |        - swx::DOUBLE * swx::DOUBLE))) END, 4)
             |    AS scale_minutes
             |FROM a""".stripMargin)),

    // Matrix profile (Yeh et al. 2016, computed exactly) of the
    // daily event-count series, window m = 7: for every 7-day
    // subsequence, the z-normalized distance to its nearest
    // non-trivial neighbor — THE motif/discord primitive ("which
    // weeks repeat; which week is unlike any other"). All window
    // moments (Σx, Σx², Σxy) are EXACT BIGINT/DECIMAL sums built by
    // exploding each pair over its 7 aligned offsets; d²(i,j) =
    // 2m(1 − ρ) touches doubles only at the end, and the
    // nearest-neighbor argmin orders by (9-dp-rounded d², j) so ties
    // break identically in both engines. Trivial matches are
    // excluded with the standard m/2 zone. The pair table is
    // calendar²-bounded (n_days² · 7 cells) — 100 TB of events still
    // digests to the same ~few-thousand-row join.
    QueryDef("q_matrix_profile",
      (s, d) => {
        val daily = graft.sources.Tables.events(s, d)
          .groupBy(to_date(col("ts")).as("day"))
          .agg(count(lit(1)).as("y"))
          .withColumn("t",
            (row_number().over(Window.orderBy(col("day"))) - 1)
              .cast("long"))
        // per-window exact moments via 7-offset self-explosion
        val offs = broadcast(s.range(0, 7).toDF("k"))
        val win = daily.crossJoin(offs)
          .select((col("t") - col("k")).as("i"), col("y"))
          .filter(col("i") >= 0)
          .groupBy(col("i"))
          .agg(count(lit(1)).as("cnt"), sum(col("y")).as("sx"),
            sum(col("y").cast("decimal(38,0)") * col("y")).as("sxx"))
          .filter(col("cnt") === 7)
        // (i, j) window pairs with the m/2 = 4 trivial-match
        // exclusion zone, then exact cross-moments per pair
        val wlist = win.select(col("i"), col("sx"), col("sxx"))
        val pairs = wlist.as("wa").crossJoin(wlist.as("wb"))
          .select(col("wa.i").as("i"), col("wb.i").as("j"),
            col("wa.sx").as("sxa"), col("wa.sxx").as("sxxa"),
            col("wb.sx").as("sxb"), col("wb.sxx").as("sxxb"))
          .filter(abs(col("i") - col("j")) >= 4)
        val dot = daily.select(col("t").as("ta"), col("y").as("ya"))
          .crossJoin(daily.select(col("t").as("tb"), col("y").as("yb")))
          .crossJoin(offs)
          .select((col("ta") - col("k")).as("i"),
            (col("tb") - col("k")).as("j"),
            (col("ya").cast("decimal(38,0)") * col("yb")).as("xy"))
          .filter(col("i") >= 0 && col("j") >= 0)
          .groupBy(col("i"), col("j"))
          .agg(count(lit(1)).as("cnt"), sum(col("xy")).as("sxy"))
          .filter(col("cnt") === 7)
        val d2 = pairs.join(dot, Seq("i", "j"))
          .withColumn("num", expr(
            "cast(7 as decimal(38,0)) * sxy - cast(sxa as decimal(38,0)) * sxb"))
          .withColumn("dena", expr(
            "cast(7 as decimal(38,0)) * sxxa - cast(sxa as decimal(38,0)) * sxa"))
          .withColumn("denb", expr(
            "cast(7 as decimal(38,0)) * sxxb - cast(sxb as decimal(38,0)) * sxb"))
          .withColumn("dist2", round(
            when(col("dena") > 0 && col("denb") > 0,
              lit(14.0) * (lit(1.0) -
                col("num").cast("double") /
                  sqrt(col("dena").cast("double") *
                    col("denb").cast("double"))))
              .otherwise(lit(14.0)), 9))
        val ranked = d2.withColumn("rk", row_number().over(
          Window.partitionBy(col("i"))
            .orderBy(col("dist2"), col("j"))))
        ranked.filter(col("rk") === 1)
          .select(col("i").as("window_start"),
            col("j").as("nn_start"),
            round(sqrt(greatest(col("dist2"), lit(0.0))), 4)
              .as("nn_dist"))
          .orderBy(col("window_start"))
      },
      Some("""WITH daily AS (SELECT
             |    row_number() OVER (ORDER BY day) - 1 AS t, y FROM (
             |    SELECT ts::DATE AS day, count(*)::BIGINT AS y
             |    FROM events GROUP BY 1)),
             |offs AS (SELECT unnest(generate_series(0, 6))::BIGINT AS k),
             |win AS (SELECT (daily.t - offs.k)::BIGINT AS i,
             |    count(*)::BIGINT AS cnt, sum(daily.y)::BIGINT AS sx,
             |    sum(daily.y::HUGEINT * daily.y) AS sxx
             |  FROM daily, offs WHERE daily.t - offs.k >= 0
             |  GROUP BY 1 HAVING count(*) = 7),
             |dot AS (SELECT (a.t - offs.k)::BIGINT AS i,
             |    (b.t - offs.k)::BIGINT AS j,
             |    count(*)::BIGINT AS cnt,
             |    sum(a.y::HUGEINT * b.y) AS sxy
             |  FROM daily a, daily b, offs
             |  WHERE a.t - offs.k >= 0 AND b.t - offs.k >= 0
             |  GROUP BY 1, 2 HAVING count(*) = 7),
             |pairs AS (SELECT wa.i AS i, wb.i AS j, wa.sx AS sxa,
             |    wa.sxx AS sxxa, wb.sx AS sxb, wb.sxx AS sxxb
             |  FROM win wa, win wb WHERE abs(wa.i - wb.i) >= 4),
             |d2 AS (SELECT p.i, p.j,
             |    round(CASE WHEN (7::HUGEINT * p.sxxa
             |        - p.sxa::HUGEINT * p.sxa) > 0
             |      AND (7::HUGEINT * p.sxxb
             |        - p.sxb::HUGEINT * p.sxb) > 0
             |      THEN 14.0 * (1.0
             |        - (7::HUGEINT * dot.sxy
             |           - p.sxa::HUGEINT * p.sxb)::DOUBLE
             |          / sqrt((7::HUGEINT * p.sxxa
             |              - p.sxa::HUGEINT * p.sxa)::DOUBLE
             |            * (7::HUGEINT * p.sxxb
             |              - p.sxb::HUGEINT * p.sxb)::DOUBLE))
             |      ELSE 14.0 END, 9) AS dist2
             |  FROM pairs p JOIN dot ON dot.i = p.i AND dot.j = p.j),
             |rk AS (SELECT i, j, dist2, row_number() OVER (
             |    PARTITION BY i ORDER BY dist2, j) AS rk FROM d2)
             |SELECT i AS window_start, j AS nn_start,
             |  round(sqrt(greatest(dist2, 0.0)), 4) AS nn_dist
             |FROM rk WHERE rk = 1 ORDER BY window_start"""
        .stripMargin)),

    // Turning-points randomness test (Kendall 1973): count strict
    // local maxima/minima in the daily event-count series and
    // compare with the i.i.d. expectation E[T] = 2(n−2)/3,
    // Var[T] = (16n − 29)/90 — the cheapest "is this series just
    // noise?" screen. Counts are integers off the calendar digest
    // (ties in either neighbor simply don't count, same rule both
    // engines); z is the single float.
    QueryDef("q_turning_points",
      (s, d) => {
        val daily = graft.sources.Tables.events(s, d)
          .groupBy(to_date(col("ts")).as("day"))
          .agg(count(lit(1)).as("y"))
        val w = Window.orderBy(col("day"))
        val tp = daily
          .withColumn("yp", lag(col("y"), 1).over(w))
          .withColumn("yn", lead(col("y"), 1).over(w))
          .filter(col("yp").isNotNull && col("yn").isNotNull)
          .agg(count(lit(1)).as("interior"),
            sum(when((col("y") > col("yp") && col("y") > col("yn")) ||
              (col("y") < col("yp") && col("y") < col("yn")), 1L)
              .otherwise(0L)).as("t_count"))
        tp.select((col("interior") + 2).as("n_days"), col("t_count"),
          round(lit(2.0) * (col("interior") + 2 - 2) / 3.0, 4)
            .as("expected"),
          round((col("t_count").cast("double") -
            lit(2.0) * (col("interior") + 2 - 2) / 3.0) /
            sqrt((lit(16.0) * (col("interior") + 2) - 29.0) / 90.0), 4)
            .as("z"))
      },
      Some("""WITH daily AS (SELECT ts::DATE AS day,
             |    count(*)::BIGINT AS y FROM events GROUP BY 1),
             |w AS (SELECT y, lag(y) OVER (ORDER BY day) AS yp,
             |    lead(y) OVER (ORDER BY day) AS yn FROM daily),
             |tp AS (SELECT count(*)::BIGINT AS interior,
             |    sum(CASE WHEN (y > yp AND y > yn)
             |      OR (y < yp AND y < yn) THEN 1 ELSE 0 END)::BIGINT
             |      AS t_count
             |  FROM w WHERE yp IS NOT NULL AND yn IS NOT NULL)
             |SELECT (interior + 2)::BIGINT AS n_days, t_count,
             |  round(2.0 * (interior + 2 - 2) / 3.0, 4) AS expected,
             |  round((t_count::DOUBLE
             |    - 2.0 * (interior + 2 - 2) / 3.0)
             |    / sqrt((16.0 * (interior + 2) - 29.0) / 90.0), 4)
             |    AS z
             |FROM tp""".stripMargin)),

    // Krippendorff's alpha (Krippendorff 1970), nominal level, for
    // inter-rater reliability with MISSING ratings — the statistic
    // annotation pipelines report when each unit is labeled by a
    // varying subset of raters. Units = days, raters = the four
    // 6-hour blocks, rating = the block's modal event_type (ties →
    // lexicographically first; blocks with no events are missing).
    // The coincidence matrix is kept EXACT by scaling each unit's
    // contribution by 6/(m_u − 1) (m_u ≤ 4, so the division is
    // integer-exact), and α = 1 − (n−1)·D_o/D_e divides once at the
    // end. Day×block×type digest — bounded by calendar × 4 × the
    // event-type vocabulary at any data scale.
    QueryDef("q_krippendorff_alpha",
      (s, d) => {
        val ev = graft.sources.Tables.events(s, d)
        val ratings = ev
          .groupBy(to_date(col("ts")).as("day"),
            (hour(col("ts")) / 6).cast("int").as("blk"),
            col("event_type").as("c"))
          .agg(count(lit(1)).as("cnt"))
          .withColumn("rn", row_number().over(
            Window.partitionBy(col("day"), col("blk"))
              .orderBy(col("cnt").desc, col("c"))))
          .filter(col("rn") === 1)
          .select(col("day"), col("c"))
        val muc = ratings.groupBy(col("day"), col("c"))
          .agg(count(lit(1)).as("m"))
        val perDay = muc.groupBy(col("day"))
          .agg(sum(col("m")).as("mu"),
            sum(col("m") * col("m")).as("smu2"))
          .filter(col("mu") >= 2)
        val do6 = perDay.agg(
          sum(col("mu")).as("n"),
          sum(expr("6 * (mu * mu - smu2) div (mu - 1)")).as("do6"))
        val nc = muc.join(perDay.select(col("day")), Seq("day"))
          .groupBy(col("c")).agg(sum(col("m")).as("ncat"))
          .agg(sum(col("ncat")).as("ntot"),
            sum(col("ncat").cast("decimal(38,0)") * col("ncat"))
              .as("snc2"))
        do6.crossJoin(broadcast(nc))
          .select(col("n").cast("long").as("n_values"),
            col("do6").cast("long").as("do_x6"),
            round(lit(1.0) - (col("n").cast("double") - 1.0) *
              (col("do6").cast("double") / 6.0) /
              (col("n").cast("double") * col("n").cast("double") -
                col("snc2").cast("double")), 6).as("alpha"))
      },
      Some("""WITH r0 AS (SELECT ts::DATE AS day,
             |    (hour(ts) // 6)::INT AS blk, event_type AS c,
             |    count(*)::BIGINT AS cnt
             |  FROM events GROUP BY 1, 2, 3),
             |ratings AS (SELECT day, c FROM r0
             |  QUALIFY row_number() OVER (PARTITION BY day, blk
             |    ORDER BY cnt DESC, c) = 1),
             |muc AS (SELECT day, c, count(*)::BIGINT AS m FROM ratings
             |  GROUP BY 1, 2),
             |perday AS (SELECT day, sum(m)::BIGINT AS mu,
             |    sum(m * m)::BIGINT AS smu2 FROM muc GROUP BY 1
             |  HAVING sum(m) >= 2),
             |do6 AS (SELECT sum(mu)::BIGINT AS n,
             |    sum(6 * (mu * mu - smu2) // (mu - 1))::BIGINT AS do6
             |  FROM perday),
             |nc AS (SELECT sum(ncat)::BIGINT AS ntot,
             |    sum(ncat::HUGEINT * ncat) AS snc2 FROM (
             |    SELECT muc.c, sum(muc.m)::BIGINT AS ncat
             |    FROM muc JOIN perday USING (day) GROUP BY 1))
             |SELECT do6.n AS n_values, do6.do6 AS do_x6,
             |  round(1.0 - (do6.n::DOUBLE - 1.0) * (do6.do6::DOUBLE / 6.0)
             |    / (do6.n::DOUBLE * do6.n::DOUBLE - nc.snc2::DOUBLE), 6)
             |    AS alpha
             |FROM do6, nc""".stripMargin)),

    // Somers' D (Somers 1962), both directions, for the ordinal
    // association between time-of-day block (X, 4 ordered levels)
    // and event value (Y, 1e-3 grid) — the asymmetric
    // concordance measure credit-scoring reports as "Gini"/
    // accuracy-ratio. NEVER pairwise over rows: like
    // q_jonckheere_terpstra, each block carries a cumulative-below
    // profile over the global value-cell spine, so concordant /
    // discordant / Y-tied pair counts are three exact DECIMAL sums
    // off ONE hash join on the cell id; the within-block and
    // within-cell tie totals come from the two marginal digests.
    // D_yx = (C−D)/pairs-untied-on-X, D_xy = (C−D)/pairs-untied-
    // on-Y — two float divisions at the end.
    QueryDef("q_somers_d",
      (s, d) => {
        val v = graft.sources.Tables.events(s, d)
          .select((hour(col("ts")) / 6).cast("int").as("g"),
            floor(col("value") * 1000).cast("long").as("vm"))
        val gcell = v.groupBy(col("g"), col("vm"))
          .agg(count(lit(1)).as("c"))
        val cells = gcell.groupBy(col("vm")).agg(sum(col("c")).as("t"))
        val groups = gcell.groupBy(col("g")).agg(sum(col("c")).as("u"))
        val spine = cells.select(col("vm").as("svm"))
          .crossJoin(broadcast(groups.select(col("g").as("sg"),
            col("u").as("su"))))
          .join(gcell, col("svm") === gcell("vm") && col("sg") === gcell("g"),
            "left")
          .select(col("svm"), col("sg"), col("su"),
            coalesce(col("c"), lit(0L)).as("c0"))
          .withColumn("cumlt", coalesce(
            sum(col("c0")).over(Window.partitionBy(col("sg"))
              .orderBy(col("svm"))
              .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
        val cdt = gcell.join(spine,
            gcell("vm") === spine("svm") && spine("sg") < gcell("g"))
          .agg(
            sum(col("c").cast("decimal(38,0)") * col("cumlt")).as("nc"),
            sum(col("c").cast("decimal(38,0)") *
              (col("su") - col("cumlt") - col("c0"))).as("nd"),
            sum(col("c").cast("decimal(38,0)") * col("c0")).as("ty"))
        val gm = groups.agg(sum(col("u")).as("n"),
          sum(col("u").cast("decimal(38,0)") * col("u")).as("su2"))
        val tm = cells.agg(
          sum(col("t").cast("decimal(38,0)") * col("t")).as("st2"))
        cdt.crossJoin(broadcast(gm)).crossJoin(broadcast(tm))
          .select(col("n"),
            col("nc").cast("long").as("n_concordant"),
            col("nd").cast("long").as("n_discordant"),
            col("ty").cast("long").as("n_tied_y"),
            round((col("nc") - col("nd")).cast("double") /
              ((col("n").cast("decimal(38,0)") * col("n") - col("su2"))
                .cast("double") / 2.0), 6).as("d_yx"),
            round((col("nc") - col("nd")).cast("double") /
              ((col("n").cast("decimal(38,0)") * col("n") - col("st2"))
                .cast("double") / 2.0), 6).as("d_xy"))
      },
      Some("""WITH v AS (SELECT (hour(ts) // 6)::INT AS g,
             |    floor(value * 1000)::BIGINT AS vm FROM events),
             |gcell AS (SELECT g, vm, count(*)::BIGINT AS c
             |  FROM v GROUP BY 1, 2),
             |cells AS (SELECT vm, sum(c)::BIGINT AS t FROM gcell GROUP BY 1),
             |groups AS (SELECT g, sum(c)::BIGINT AS u FROM gcell GROUP BY 1),
             |spine AS (SELECT cells.vm AS svm, groups.g AS sg,
             |    groups.u AS su, coalesce(gcell.c, 0)::BIGINT AS c0
             |  FROM cells CROSS JOIN groups
             |  LEFT JOIN gcell ON gcell.vm = cells.vm AND gcell.g = groups.g),
             |cum AS (SELECT svm, sg, su, c0, coalesce(sum(c0) OVER (
             |    PARTITION BY sg ORDER BY svm
             |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
             |    AS cumlt FROM spine),
             |cdt AS (SELECT
             |    sum(gcell.c::HUGEINT * cum.cumlt) AS nc,
             |    sum(gcell.c::HUGEINT
             |      * (cum.su - cum.cumlt - cum.c0)) AS nd,
             |    sum(gcell.c::HUGEINT * cum.c0) AS ty
             |  FROM gcell JOIN cum ON gcell.vm = cum.svm
             |    AND cum.sg < gcell.g),
             |gm AS (SELECT sum(u)::BIGINT AS n,
             |    sum(u::HUGEINT * u) AS su2 FROM groups),
             |tm AS (SELECT sum(t::HUGEINT * t) AS st2 FROM cells)
             |SELECT gm.n, cdt.nc::BIGINT AS n_concordant,
             |  cdt.nd::BIGINT AS n_discordant,
             |  cdt.ty::BIGINT AS n_tied_y,
             |  round((cdt.nc - cdt.nd)::DOUBLE
             |    / ((gm.n::HUGEINT * gm.n - gm.su2)::DOUBLE / 2.0), 6)
             |    AS d_yx,
             |  round((cdt.nc - cdt.nd)::DOUBLE
             |    / ((gm.n::HUGEINT * gm.n - tm.st2)::DOUBLE / 2.0), 6)
             |    AS d_xy
             |FROM cdt, gm, tm""".stripMargin)),

    // Lomb–Scargle periodogram (Lomb 1976; Scargle 1982) of the raw
    // event VALUE samples at their IRREGULAR timestamps — the
    // spectral tool for unevenly-sampled sensor streams, where the
    // evenly-gridded q_periodogram doesn't apply. ONE distributed
    // pass per candidate period: the five τ-free moments Σsinθcosθ,
    // Σcos²θ, Σsin²θ, Σcc·cosθ, Σcc·sinθ are summed together, then
    // the phase offset τ = atan2(Σsin2θ, Σcos2θ)/2ω (sin2θ = 2sc,
    // cos2θ = c²−s²) and the τ-shifted moments sa/sb/sc2/ss2 are
    // derived by angle addition on the 7-row digest — no second scan
    // of the event×period lineage and no join. Per-event terms are
    // quantized HALF-UP to fixed-dp INTEGER units via the
    // floor(|x|·10^k + 0.5)·sign(x) spelling — identical IEEE double
    // ops in both engines, and the sums stay primitive longs in
    // Spark's codegen (the per-row round()→DECIMAL spelling allocated
    // a BigDecimal per term and was the query's real cost). The
    // centered product Σcc·cosθ is split by linearity,
    // Σcc·cosθ = n·Σ(y·cosθ) − Σy·Σcosθ, so per-row magnitudes are
    // bounded by |y| (not n·|y|) and the n/Σy recombination happens
    // once per period in DECIMAL(38,0) on the digest. A driver-side
    // O(1) stats probe picks the accumulator width: primitive longs
    // while n·10^9 and n·max|y|·10^6 fit 63 bits (up to ~10^9 events
    // per period), DECIMAL(38,0) beyond — both exact, so the oracle
    // (whose BIGINT sums auto-widen to HUGEINT) matches either path.
    // The single aggregation is map-side-combined keyed by the 7
    // periods — no data-sized shuffle at any scale.
    QueryDef("q_lomb_scargle",
      (s, d) => {
        val ev = graft.sources.Tables.events(s, d)
          .select(unix_micros(col("ts")).as("us"),
            (col("value").cast("decimal(18,2)") * 100).cast("long")
              .as("yc"))
        val gr = ev.agg(min(col("us")).as("us0"),
          count(lit(1)).as("n"), sum(col("yc")).as("sy"),
          max(abs(col("yc"))).as("ma")).head()
        val (us0, n, sy, ma) =
          (gr.getLong(0), gr.getLong(1), gr.getLong(2), gr.getLong(3))
        val fitsLong = n < 8500000000L &&
          (BigInt(n) * BigInt(math.max(ma, 1L)) * 1000000 <
            BigInt("8500000000000000000"))
        val acc = if (fitsLong) "bigint" else "decimal(38,0)"
        // HALF-UP quantize a double expression to 10^k integer units
        // using only IEEE floor/abs — no BigDecimal in the hot loop
        def q(e: String, k: String) =
          s"cast(floor(abs($e) * $k + 0.5d) as $acc)" +
            s" * (case when $e < 0.0d then -1L else 1L end)"
        val periods = broadcast(s.createDataFrame(
          Seq(3L, 6L, 12L, 24L, 48L, 84L, 168L).map(Tuple1(_)))
          .toDF("p"))
        val base = ev.crossJoin(periods)
          .withColumn("th", expr(
            s"""2.0 * 3.141592653589793
              |* (cast(us - ${us0}L as double) / 3600000000.0)
              |/ cast(p as double)""".stripMargin))
          .select(col("p"), col("yc"),
            expr("sin(th)").as("sv"), expr("cos(th)").as("cv"))
          .select(col("p"),
            expr("sv * cv").as("x_sc"), expr("cv * cv").as("x_cc"),
            expr("sv * sv").as("x_ss"),
            expr("cast(yc as double) * cv").as("x_yc"),
            expr("cast(yc as double) * sv").as("x_ys"),
            col("cv"), col("sv"))
        val m = base.groupBy(col("p"))
          .agg(sum(expr(q("x_sc", "1.0e9"))).as("ssc9"),
            sum(expr(q("x_cc", "1.0e9"))).as("scc9"),
            sum(expr(q("x_ss", "1.0e9"))).as("sss9"),
            sum(expr(q("x_yc", "1.0e6"))).as("syc6"),
            sum(expr(q("x_ys", "1.0e6"))).as("sys6"),
            sum(expr(q("cv", "1.0e9"))).as("sc9"),
            sum(expr(q("sv", "1.0e9"))).as("ss9"))
        // τ and the τ-shifted moments on the 7-row digest: with
        // ct = cos τ, st = sin τ, angle addition gives
        //   sa  = Σcc·cos(θ−τ) = ct·Σcc·cosθ + st·Σcc·sinθ
        //   sb  = Σcc·sin(θ−τ) = ct·Σcc·sinθ − st·Σcc·cosθ
        //   sc2 = Σcos²(θ−τ)   = ct²Σc² + 2ctst·Σsc + st²Σs²
        //   ss2 = Σsin²(θ−τ)   = st²Σc² − 2ctst·Σsc + ct²Σs²
        // with Σcc·cosθ recombined exactly in DECIMAL(38,0) e-9 units
        val res = m
          .withColumn("ssc", expr("cast(ssc9 as double) / 1.0e9"))
          .withColumn("scc", expr("cast(scc9 as double) / 1.0e9"))
          .withColumn("sss", expr("cast(sss9 as double) / 1.0e9"))
          .withColumn("sca", expr(
            s"""cast((cast(${n}L as decimal(38,0)) * cast(syc6 as decimal(38,0)) * 1000
              |  - cast(${sy}L as decimal(38,0)) * cast(sc9 as decimal(38,0)))
              |  as double) / 1.0e9""".stripMargin))
          .withColumn("ssa", expr(
            s"""cast((cast(${n}L as decimal(38,0)) * cast(sys6 as decimal(38,0)) * 1000
              |  - cast(${sy}L as decimal(38,0)) * cast(ss9 as decimal(38,0)))
              |  as double) / 1.0e9""".stripMargin))
          .withColumn("tth", expr(
            "atan2(2.0 * ssc, scc - sss) / 2.0"))
          .withColumn("ct", expr("cos(tth)"))
          .withColumn("st", expr("sin(tth)"))
          .withColumn("sa", expr("ct * sca + st * ssa"))
          .withColumn("sb", expr("ct * ssa - st * sca"))
          .withColumn("sc2", expr(
            "ct * ct * scc + 2.0 * ct * st * ssc + st * st * sss"))
          .withColumn("ss2", expr(
            "st * st * scc - 2.0 * ct * st * ssc + ct * ct * sss"))
          .select(col("p").as("period_hours"),
            round(expr(
              s"""0.5 * (sa * sa / sc2 + sb * sb / ss2)
                |/ (cast(${n}L as double) * 100.0
                |   * cast(${n}L as double) * 100.0)""".stripMargin), 4)
              .as("power"))
          .orderBy(col("period_hours"))
        res
      },
      Some("""WITH ev AS (SELECT epoch_us(ts) AS us,
             |    (CAST(value AS DECIMAL(18,2)) * 100)::BIGINT AS yc
             |  FROM events),
             |g AS (SELECT min(us) AS us0, count(*)::BIGINT AS n,
             |    sum(yc)::BIGINT AS sy FROM ev),
             |periods AS (SELECT unnest([3, 6, 12, 24, 48, 84, 168])
             |    ::BIGINT AS p),
             |base AS (SELECT periods.p, g.n, g.sy, ev.yc,
             |    sin(2.0 * 3.141592653589793
             |      * ((ev.us - g.us0)::DOUBLE / 3600000000.0)
             |      / periods.p::DOUBLE) AS sv,
             |    cos(2.0 * 3.141592653589793
             |      * ((ev.us - g.us0)::DOUBLE / 3600000000.0)
             |      / periods.p::DOUBLE) AS cv
             |  FROM ev, g, periods),
             |m AS (SELECT p, max(n)::BIGINT AS n, max(sy)::BIGINT AS sy,
             |    sum(floor(abs(sv * cv) * 1.0e9 + 0.5)::BIGINT
             |      * (CASE WHEN sv * cv < 0.0 THEN -1 ELSE 1 END)) AS ssc9,
             |    sum(floor(abs(cv * cv) * 1.0e9 + 0.5)::BIGINT
             |      * (CASE WHEN cv * cv < 0.0 THEN -1 ELSE 1 END)) AS scc9,
             |    sum(floor(abs(sv * sv) * 1.0e9 + 0.5)::BIGINT
             |      * (CASE WHEN sv * sv < 0.0 THEN -1 ELSE 1 END)) AS sss9,
             |    sum(floor(abs(yc::DOUBLE * cv) * 1.0e6 + 0.5)::BIGINT
             |      * (CASE WHEN yc::DOUBLE * cv < 0.0 THEN -1 ELSE 1 END))
             |      AS syc6,
             |    sum(floor(abs(yc::DOUBLE * sv) * 1.0e6 + 0.5)::BIGINT
             |      * (CASE WHEN yc::DOUBLE * sv < 0.0 THEN -1 ELSE 1 END))
             |      AS sys6,
             |    sum(floor(abs(cv) * 1.0e9 + 0.5)::BIGINT
             |      * (CASE WHEN cv < 0.0 THEN -1 ELSE 1 END)) AS sc9,
             |    sum(floor(abs(sv) * 1.0e9 + 0.5)::BIGINT
             |      * (CASE WHEN sv < 0.0 THEN -1 ELSE 1 END)) AS ss9
             |  FROM base GROUP BY 1),
             |t AS (SELECT p, n,
             |    ssc9::DOUBLE / 1.0e9 AS ssc,
             |    scc9::DOUBLE / 1.0e9 AS scc,
             |    sss9::DOUBLE / 1.0e9 AS sss,
             |    (n::DECIMAL(38,0) * syc6::DECIMAL(38,0) * 1000
             |      - sy::DECIMAL(38,0) * sc9::DECIMAL(38,0))::DOUBLE
             |      / 1.0e9 AS sca,
             |    (n::DECIMAL(38,0) * sys6::DECIMAL(38,0) * 1000
             |      - sy::DECIMAL(38,0) * ss9::DECIMAL(38,0))::DOUBLE
             |      / 1.0e9 AS ssa,
             |    atan2(2.0 * (ssc9::DOUBLE / 1.0e9),
             |      scc9::DOUBLE / 1.0e9 - sss9::DOUBLE / 1.0e9)
             |      / 2.0 AS tth
             |  FROM m),
             |r AS (SELECT p, n,
             |    cos(tth) * sca + sin(tth) * ssa AS sa,
             |    cos(tth) * ssa - sin(tth) * sca AS sb,
             |    cos(tth) * cos(tth) * scc
             |      + 2.0 * cos(tth) * sin(tth) * ssc
             |      + sin(tth) * sin(tth) * sss AS sc2,
             |    sin(tth) * sin(tth) * scc
             |      - 2.0 * cos(tth) * sin(tth) * ssc
             |      + cos(tth) * cos(tth) * sss AS ss2
             |  FROM t)
             |SELECT p AS period_hours,
             |  round(0.5 * (sa * sa / sc2 + sb * sb / ss2)
             |    / (n::DOUBLE * 100.0 * n::DOUBLE * 100.0), 4) AS power
             |FROM r ORDER BY period_hours""".stripMargin)),

    // Generalized ESD outlier peel (Rosner 1983), k = 5 rounds, on
    // daily revenue: repeatedly remove the most extreme studentized
    // day and report each round's test statistic R_r — the iterative
    // detector that, unlike a single Grubbs pass, is robust to
    // masking by multiple outliers. Each round's deviations are
    // EXACT scaled integers (|n·y − Σy| on the cents grid, BIGINT);
    // the argmax is picked by (dev, day) rank so ties break
    // identically in both engines; R_r = dev/(n·s) touches doubles
    // once per round. The five rounds chain over the calendar digest
    // — at 100 TB the facts reduce once, then five digest-sized
    // iterations.
    QueryDef("q_gesd_outliers",
      (s, d) => {
        // The 5-round ESD peel runs as driver algebra over the
        // ≤366-row daily digest (the q_gmm_em discipline): ONE
        // distributed groupBy, then the per-round argmax/anti-join
        // fold is exact Long/BigInt arithmetic on the driver —
        // previously each round re-executed every earlier round's
        // crossJoin+window lineage from the parquet scan (O(r²)
        // stages, 7.5 s); now it's one job + O(1) driver state.
        // Every double expression below mirrors the oracle's CTE
        // shape exactly (BIGINT dev, HUGEINT n·syy − sy², nearest-
        // double casts, 6-dp HALF_UP round — Spark round() semantics).
        val daily = graft.sources.Tables.events(s, d)
          .groupBy(to_date(col("ts")).as("day"))
          .agg((sum(col("value").cast("decimal(18,2)")) * lit(100))
            .cast("long").as("y"))
        var rem: Vector[(String, Long)] = daily
          .select(col("day").cast("string"), col("y"))
          .collect().map(r => (r.getString(0), r.getLong(1))).toVector
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
             |sel$r AS (SELECT $r AS round, b.day::VARCHAR AS day,
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
        s"""WITH base0 AS (SELECT ts::DATE AS day,
           |    (sum(CAST(value AS DECIMAL(18,2))) * 100)::BIGINT AS y
           |  FROM events GROUP BY 1),
           |$roundCtes
           |SELECT round, day, r_stat FROM (
           |  SELECT round, day, r_stat FROM sel1
           |  UNION ALL SELECT round, day, r_stat FROM sel2
           |  UNION ALL SELECT round, day, r_stat FROM sel3
           |  UNION ALL SELECT round, day, r_stat FROM sel4
           |  UNION ALL SELECT round, day, r_stat FROM sel5)
           |ORDER BY round""".stripMargin
      }),

    // Engle–Granger cointegration test (Engle & Granger 1987)
    // between daily event volume and daily revenue: OLS the levels
    // (y on x), then Dickey–Fuller the residuals — if the residual
    // series mean-reverts (t ≪ 0), the two series share a common
    // stochastic trend. Step 1's residuals are EXACT scaled integers
    // (the q_cooks_distance identity with x as regressor), descaled
    // ONCE onto a 4-dp decimal grid; step 2's no-intercept DF
    // regression Δu ~ u₋₁ then runs entirely on exact DECIMAL sums
    // (Δu is a decimal difference — no float drift), with γ and the
    // scale-invariant t-statistic as the only doubles. Calendar
    // digest → one data shuffle at any scale.
    QueryDef("q_engle_granger",
      (s, d) => {
        val daily = graft.sources.Tables.events(s, d)
          .groupBy(to_date(col("ts")).as("day"))
          .agg(count(lit(1)).as("x"),
            (sum(col("value").cast("decimal(18,2)")) * lit(100))
              .cast("long").as("y"))
        val g = broadcast(daily.agg(count(lit(1)).as("n"),
          sum(col("x")).as("sx"), sum(col("y")).as("sy"),
          sum(col("x") * col("x")).as("sxx"),
          sum(col("x").cast("decimal(38,0)") * col("y")).as("sxy")))
        val u = daily.crossJoin(g)
          .withColumn("num", expr(
            "cast(n as decimal(38,0)) * sxy - cast(sx as decimal(38,0)) * sy"))
          .withColumn("den", expr(
            "cast(n as decimal(38,0)) * sxx - cast(sx as decimal(38,0)) * sx"))
          .withColumn("u", expr(
            """cast(round(
              |  cast(cast(n as decimal(38,0)) * den * y
              |       - (den * sy - num * sx)
              |       - cast(n as decimal(38,0)) * num * x as double)
              |  / (cast(n as double) * cast(den as double)) / 100.0,
              |  4) as decimal(24,4))""".stripMargin))
          .withColumn("up", lag(col("u"), 1).over(
            Window.orderBy(col("day"))))
        val df0 = u.filter(col("up").isNotNull)
          .agg(max(col("n")).as("n"),
            max(expr("cast(num as double) / cast(den as double)"))
              .as("beta"),
            count(lit(1)).as("tt"),
            sum(expr("cast(up * up as decimal(38,8))")).as("see"),
            sum(expr("cast(up * (u - up) as decimal(38,8))")).as("sed"),
            sum(expr("cast((u - up) * (u - up) as decimal(38,8))"))
              .as("sdd"))
        df0.select(col("n").as("n_days"),
          round(col("beta") / 100.0, 6).as("beta"),
          round(expr(
            """CASE WHEN cast(see as double) = 0.0 THEN NULL
              |ELSE cast(sed as double) / cast(see as double) END"""
              .stripMargin), 6).as("gamma"),
          round(expr(
            """CASE WHEN cast(see as double) = 0.0 THEN NULL
              |WHEN cast(sdd as double) - (cast(sed as double)
              |    * cast(sed as double)) / cast(see as double) <= 0.0
              |  THEN NULL
              |ELSE (cast(sed as double) / cast(see as double))
              |  * sqrt(cast(see as double)
              |    * (cast(tt as double) - 1.0)
              |    / (cast(sdd as double) - (cast(sed as double)
              |        * cast(sed as double)) / cast(see as double)))
              |END""".stripMargin), 4).as("df_t"))
      },
      Some("""WITH daily AS (SELECT ts::DATE AS day,
             |    count(*)::BIGINT AS x,
             |    (sum(CAST(value AS DECIMAL(18,2))) * 100)::BIGINT AS y
             |  FROM events GROUP BY 1),
             |g AS (SELECT count(*)::BIGINT AS n, sum(x)::BIGINT AS sx,
             |    sum(y)::BIGINT AS sy, sum(x * x)::BIGINT AS sxx,
             |    sum(x::HUGEINT * y) AS sxy FROM daily),
             |u0 AS (SELECT daily.day,
             |    round((g.n::HUGEINT
             |        * (g.n::HUGEINT * g.sxx - g.sx::HUGEINT * g.sx)
             |        * daily.y
             |      - ((g.n::HUGEINT * g.sxx - g.sx::HUGEINT * g.sx)
             |          * g.sy
             |         - (g.n::HUGEINT * g.sxy - g.sx::HUGEINT * g.sy)
             |          * g.sx)
             |      - g.n::HUGEINT
             |        * (g.n::HUGEINT * g.sxy - g.sx::HUGEINT * g.sy)
             |        * daily.x)::DOUBLE
             |      / (g.n::DOUBLE
             |         * (g.n::HUGEINT * g.sxx
             |            - g.sx::HUGEINT * g.sx)::DOUBLE)
             |      / 100.0, 4)::DECIMAL(24,4) AS u,
             |    g.n,
             |    (g.n::HUGEINT * g.sxy - g.sx::HUGEINT * g.sy)::DOUBLE
             |      / (g.n::HUGEINT * g.sxx - g.sx::HUGEINT * g.sx)
             |        ::DOUBLE AS beta
             |  FROM daily, g),
             |u1 AS (SELECT u, n, beta,
             |    lag(u) OVER (ORDER BY day) AS up FROM u0),
             |a AS (SELECT max(n)::BIGINT AS n, max(beta) AS beta,
             |    count(*)::BIGINT AS tt,
             |    sum((up * up)::DECIMAL(38,8)) AS see,
             |    sum((up * (u - up))::DECIMAL(38,8)) AS sed,
             |    sum(((u - up) * (u - up))::DECIMAL(38,8)) AS sdd
             |  FROM u1 WHERE up IS NOT NULL)
             |SELECT n AS n_days, round(beta / 100.0, 6) AS beta,
             |  round(CASE WHEN see::DOUBLE = 0.0 THEN NULL
             |    ELSE sed::DOUBLE / see::DOUBLE END, 6) AS gamma,
             |  round(CASE WHEN see::DOUBLE = 0.0 THEN NULL
             |    WHEN sdd::DOUBLE - (sed::DOUBLE * sed::DOUBLE)
             |        / see::DOUBLE <= 0.0 THEN NULL
             |    ELSE (sed::DOUBLE / see::DOUBLE)
             |      * sqrt(see::DOUBLE * (tt::DOUBLE - 1.0)
             |        / (sdd::DOUBLE - (sed::DOUBLE * sed::DOUBLE)
             |            / see::DOUBLE)) END, 4) AS df_t
             |FROM a""".stripMargin)),

    // Mood's median test (Mood 1950) across the four 6-hour blocks:
    // does each block's share of above-median event values match the
    // pooled expectation? The grand LOWER median is selected by rank
    // off the value-cell digest (cum ≥ (n+1) div 2 — pure integer
    // selection, no averaging), the 4×2 contingency table is exact
    // integer counts (ties at the median count as "not above", same
    // rule both engines), and χ² (df = 3) is the single float fold.
    QueryDef("q_mood_median",
      (s, d) => {
        val v = graft.sources.Tables.events(s, d)
          .select((hour(col("ts")) / 6).cast("int").as("g"),
            floor(col("value") * 1000).cast("long").as("vm"))
        val gcell = v.groupBy(col("g"), col("vm"))
          .agg(count(lit(1)).as("c"))
        val cells = gcell.groupBy(col("vm")).agg(sum(col("c")).as("t"))
          .withColumn("cum", sum(col("t")).over(
            Window.orderBy(col("vm"))
              .rowsBetween(Window.unboundedPreceding, 0)))
        val n0 = broadcast(cells.agg(sum(col("t")).as("n")))
        val med = broadcast(cells.crossJoin(n0)
          .filter(col("cum") >= expr("(n + 1) div 2"))
          .agg(min(col("vm")).as("m"), max(col("n")).as("n")))
        val tab = gcell.crossJoin(med)
          .groupBy(col("g"))
          .agg(sum(col("c")).as("u"),
            sum(when(col("vm") > col("m"), col("c")).otherwise(0L))
              .as("a"), max(col("m")).as("m"), max(col("n")).as("n"))
        val tot = broadcast(tab.agg(sum(col("a")).as("ta"),
          count(lit(1)).as("k")))
        tab.crossJoin(tot)
          .agg(max(col("n")).as("nv"), max(col("m")).as("mv"),
            max(col("ta")).as("tav"), max(col("k")).as("kv"),
            sum(expr(
              """cast(round(
                |  (cast(a as double)
                |   - cast(u as double) * ta / cast(n as double))
                |  * (cast(a as double)
                |     - cast(u as double) * ta / cast(n as double))
                |  / (cast(u as double) * ta / cast(n as double))
                |  + (cast(u - a as double)
                |     - cast(u as double) * (n - ta) / cast(n as double))
                |    * (cast(u - a as double)
                |       - cast(u as double) * (n - ta) / cast(n as double))
                |    / (cast(u as double) * (n - ta) / cast(n as double))
                |  , 9) as decimal(38,9))""".stripMargin)).as("chi"))
          .select(col("nv").as("n"),
            round(col("mv").cast("double") / 1000.0, 3)
              .as("median_value"),
            col("tav").as("n_above"),
            (col("kv") - 1).cast("long").as("df"),
            round(col("chi").cast("double"), 6).as("chi2"))
      },
      Some("""WITH v AS (SELECT (hour(ts) // 6)::INT AS g,
             |    floor(value * 1000)::BIGINT AS vm FROM events),
             |gcell AS (SELECT g, vm, count(*)::BIGINT AS c
             |  FROM v GROUP BY 1, 2),
             |cells AS (SELECT vm, sum(c)::BIGINT AS t,
             |    sum(sum(c)) OVER (ORDER BY vm
             |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
             |      ::BIGINT AS cum
             |  FROM gcell GROUP BY 1),
             |n0 AS (SELECT sum(t)::BIGINT AS n FROM cells),
             |med AS (SELECT min(vm)::BIGINT AS m, max(n0.n)::BIGINT AS n
             |  FROM cells, n0 WHERE cells.cum >= (n0.n + 1) // 2),
             |tab AS (SELECT g, sum(c)::BIGINT AS u,
             |    sum(CASE WHEN vm > med.m THEN c ELSE 0 END)::BIGINT AS a,
             |    max(med.m)::BIGINT AS m, max(med.n)::BIGINT AS n
             |  FROM gcell, med GROUP BY 1),
             |tot AS (SELECT sum(a)::BIGINT AS ta, count(*)::BIGINT AS k
             |  FROM tab),
             |f AS (SELECT max(tab.n)::BIGINT AS nv,
             |    max(tab.m)::BIGINT AS mv, max(tot.ta)::BIGINT AS tav,
             |    max(tot.k)::BIGINT AS kv,
             |    sum(round(
             |      (a::DOUBLE - u::DOUBLE * ta / n::DOUBLE)
             |      * (a::DOUBLE - u::DOUBLE * ta / n::DOUBLE)
             |      / (u::DOUBLE * ta / n::DOUBLE)
             |      + ((u - a)::DOUBLE
             |         - u::DOUBLE * (n - ta) / n::DOUBLE)
             |        * ((u - a)::DOUBLE
             |           - u::DOUBLE * (n - ta) / n::DOUBLE)
             |        / (u::DOUBLE * (n - ta) / n::DOUBLE)
             |      , 9)::DECIMAL(38,9)) AS chi
             |  FROM tab, tot)
             |SELECT nv AS n, round(mv::DOUBLE / 1000.0, 3)
             |    AS median_value,
             |  tav AS n_above, (kv - 1)::BIGINT AS df,
             |  round(chi::DOUBLE, 6) AS chi2
             |FROM f""".stripMargin)),

    // Ansari–Bradley scale test (Ansari & Bradley 1960): are AM and
    // PM event values equally DISPERSED (same spread, any location)?
    // Scores fold ranks from both ends — a_r = min(r, N+1−r) — so
    // small scores mark the extremes; tied observations share their
    // rank-range's average score. The whole statistic runs off the
    // value-cell digest: each cell's global rank range [cumlt+1,
    // cumlt+t] yields an EXACT integer score-sum via the closed-form
    // prefix F(x) (triangular up to the fold, arithmetic past it),
    // the per-cell tie-average contributions are 9-dp-quantized
    // DECIMAL terms, and the tie-conditional normal approximation
    // z = (AB − n₁·F(N)/N)/√V divides once at the end.
    QueryDef("q_ansari_bradley",
      (s, d) => {
        val v = graft.sources.Tables.events(s, d)
          .select(when(hour(col("ts")) < 12, 1L).otherwise(0L).as("am"),
            floor(col("value") * 1000).cast("long").as("vm"))
        val cells = v.groupBy(col("vm"))
          .agg(count(lit(1)).as("t"), sum(col("am")).as("c1"))
          .withColumn("cumlt", coalesce(
            sum(col("t")).over(Window.orderBy(col("vm"))
              .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
        val n0 = broadcast(cells.agg(sum(col("t")).as("n"),
          sum(col("c1")).as("n1")))
        def fF(x: String) =
          s"""(CASE WHEN ($x) <= (n + 1) div 2
             |  THEN ($x) * (($x) + 1) div 2
             |  ELSE ((n + 1) div 2) * ((n + 1) div 2 + 1) div 2
             |    + (($x) - (n + 1) div 2) * (n + 1)
             |    - (($x) * (($x) + 1) div 2
             |       - ((n + 1) div 2) * ((n + 1) div 2 + 1) div 2)
             |  END)""".stripMargin
        val terms = cells.crossJoin(n0)
          .withColumn("ss", expr(
            s"${fF("cumlt + t")} - ${fF("cumlt")}"))
          .select(col("n"), col("n1"),
            expr("cast(round(cast(c1 as double) * ss / t, 9)" +
              " as decimal(38,9))").as("abterm"),
            expr("cast(round(cast(ss as double) * ss / t, 9)" +
              " as decimal(38,9))").as("s2term"))
        terms.agg(max(col("n")).as("n"), max(col("n1")).as("n1"),
            sum(col("abterm")).as("ab"), sum(col("s2term")).as("ss2"))
          .select(col("n1").as("n_am"), (col("n") - col("n1")).as("n_pm"),
            round(col("ab").cast("double"), 4).as("ab_stat"),
            round(expr(
              s"""CASE WHEN cast(n1 as double) * (n - n1)
                 |    * (cast(n as double) * cast(ss2 as double)
                 |       - cast(${fF("n")} as double)
                 |         * cast(${fF("n")} as double))
                 |    / (cast(n as double) * cast(n as double)
                 |       * (cast(n as double) - 1.0)) <= 0.0 THEN NULL
                 |ELSE (cast(ab as double)
                 |  - cast(n1 as double) * cast(${fF("n")} as double)
                 |    / cast(n as double))
                 |  / sqrt(cast(n1 as double) * (n - n1)
                 |    * (cast(n as double) * cast(ss2 as double)
                 |       - cast(${fF("n")} as double)
                 |         * cast(${fF("n")} as double))
                 |    / (cast(n as double) * cast(n as double)
                 |       * (cast(n as double) - 1.0))) END"""
                .stripMargin), 4).as("z"))
      },
      Some {
        def fF(x: String) =
          s"""(CASE WHEN ($x) <= (n + 1) // 2
             |  THEN ($x) * (($x) + 1) // 2
             |  ELSE ((n + 1) // 2) * ((n + 1) // 2 + 1) // 2
             |    + (($x) - (n + 1) // 2) * (n + 1)
             |    - (($x) * (($x) + 1) // 2
             |       - ((n + 1) // 2) * ((n + 1) // 2 + 1) // 2)
             |  END)""".stripMargin
        s"""WITH v AS (SELECT CASE WHEN hour(ts) < 12 THEN 1
           |      ELSE 0 END::BIGINT AS am,
           |    floor(value * 1000)::BIGINT AS vm FROM events),
           |cells AS (SELECT vm, count(*)::BIGINT AS t,
           |    sum(am)::BIGINT AS c1,
           |    coalesce(sum(count(*)) OVER (ORDER BY vm
           |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
           |      ::BIGINT AS cumlt
           |  FROM v GROUP BY vm),
           |n0 AS (SELECT sum(t)::BIGINT AS n, sum(c1)::BIGINT AS n1
           |  FROM cells),
           |terms AS (SELECT n0.n, n0.n1,
           |    round(c1::DOUBLE
           |      * (${fF("cumlt + t")} - ${fF("cumlt")}) / t, 9)
           |      ::DECIMAL(38,9) AS abterm,
           |    round((${fF("cumlt + t")} - ${fF("cumlt")})::DOUBLE
           |      * (${fF("cumlt + t")} - ${fF("cumlt")}) / t, 9)
           |      ::DECIMAL(38,9) AS s2term
           |  FROM cells, n0),
           |a AS (SELECT max(n)::BIGINT AS n, max(n1)::BIGINT AS n1,
           |    sum(abterm) AS ab, sum(s2term) AS ss2 FROM terms)
           |SELECT n1 AS n_am, (n - n1)::BIGINT AS n_pm,
           |  round(ab::DOUBLE, 4) AS ab_stat,
           |  round(CASE WHEN n1::DOUBLE * (n - n1)
           |      * (n::DOUBLE * ss2::DOUBLE
           |         - ${fF("n")}::DOUBLE * ${fF("n")}::DOUBLE)
           |      / (n::DOUBLE * n::DOUBLE * (n::DOUBLE - 1.0)) <= 0.0
           |    THEN NULL
           |    ELSE (ab::DOUBLE
           |      - n1::DOUBLE * ${fF("n")}::DOUBLE / n::DOUBLE)
           |      / sqrt(n1::DOUBLE * (n - n1)
           |        * (n::DOUBLE * ss2::DOUBLE
           |           - ${fF("n")}::DOUBLE * ${fF("n")}::DOUBLE)
           |        / (n::DOUBLE * n::DOUBLE * (n::DOUBLE - 1.0)))
           |    END, 4) AS z
           |FROM a""".stripMargin
      }),

    // Calinski–Harabasz index (Caliński & Harabasz 1974) of the
    // labeled embedding clusters — the variance-ratio criterion
    // CH = (B/(k−1))/(W/(n−k)) that complements the silhouette and
    // Davies–Bouldin rows. NO explicit centroids: both scatter terms
    // reduce to exact sums on the ×1000 integer grid via
    // W_j = Q_j − ‖S_j‖²/n_j (Q_j = Σ‖x‖², S_j = per-dim sums), so
    // the only non-integers are the k per-label ‖S_j‖²/n_j ratios —
    // each 6-dp-quantized into DECIMAL before the final fold. Two
    // digest shuffles (label×64-dim sums, label moments); everything
    // joins broadcast.
    QueryDef("emb_calinski_harabasz",
      (s, d) => {
        val ev = graft.sources.Tables.load(s, d, "embeddings")
          .select(col("label"), expr(
            "transform(cast(embedding AS array<double>)," +
              " x -> cast(round(x * 1000, 0) AS bigint))").as("e"))
        val dims = ev.select(col("label"),
            posexplode(col("e")).as(Seq("pos", "x")))
          .groupBy(col("label"), col("pos"))
          .agg(sum(col("x")).as("sp"))
        val sj2 = dims.groupBy(col("label"))
          .agg(sum(col("sp").cast("decimal(38,0)") * col("sp"))
            .as("sj2"))
        val qj = ev.groupBy(col("label"))
          .agg(count(lit(1)).as("nj"),
            sum(expr(
              "aggregate(e, cast(0 as bigint), (acc, x) -> acc + x * x)"))
              .as("qj"))
        val perLabel = qj.join(sj2, Seq("label"))
          .select(col("nj"), col("qj"),
            expr("cast(round(cast(sj2 as double) / nj, 6)" +
              " as decimal(38,6))").as("cj"))
        val lab = perLabel.agg(sum(col("nj")).as("n"),
          count(lit(1)).as("k"), sum(col("qj")).as("sq"),
          sum(col("cj")).as("sc"))
        val s2tot = broadcast(dims.groupBy(col("pos"))
          .agg(sum(col("sp")).as("gp"))
          .agg(sum(col("gp").cast("decimal(38,0)") * col("gp"))
            .as("s2")))
        lab.crossJoin(s2tot)
          .select(col("n").as("n_vecs"), col("k").as("n_labels"),
            round(expr(
              """CASE WHEN k <= 1 OR n <= k
                |  OR cast(sq as double) - cast(sc as double) <= 0.0
                |  THEN NULL
                |ELSE ((cast(sc as double)
                |    - cast(s2 as double) / cast(n as double))
                |  / (cast(k as double) - 1.0))
                |  / ((cast(sq as double) - cast(sc as double))
                |     / (cast(n as double) - cast(k as double)))
                |END""".stripMargin), 4).as("ch_index"),
            round(expr(
              """(cast(sc as double)
                |  - cast(s2 as double) / cast(n as double))
                |/ (cast(sq as double)
                |   - cast(s2 as double) / cast(n as double))"""
                .stripMargin), 6).as("between_frac"))
      },
      Some("""WITH ev AS (SELECT label,
             |    list_transform(embedding::DOUBLE[],
             |      x -> round(x * 1000)::BIGINT) AS e
             |  FROM embeddings),
             |dims AS (SELECT label, i.i AS pos, sum(e[i.i + 1])::BIGINT
             |      AS sp
             |  FROM ev, (SELECT unnest(range(64)) AS i) i
             |  GROUP BY 1, 2),
             |sj2 AS (SELECT label, sum(sp::HUGEINT * sp) AS sj2
             |  FROM dims GROUP BY 1),
             |qj AS (SELECT label, count(*)::BIGINT AS nj,
             |    sum(list_sum(list_transform(e, x -> x * x)))::BIGINT
             |      AS qj
             |  FROM ev GROUP BY 1),
             |pl AS (SELECT qj.nj, qj.qj,
             |    round(sj2.sj2::DOUBLE / qj.nj, 6)::DECIMAL(38,6) AS cj
             |  FROM qj JOIN sj2 USING (label)),
             |lab AS (SELECT sum(nj)::BIGINT AS n, count(*)::BIGINT AS k,
             |    sum(qj)::BIGINT AS sq, sum(cj) AS sc FROM pl),
             |s2tot AS (SELECT sum(gp::HUGEINT * gp) AS s2 FROM (
             |    SELECT pos, sum(sp)::BIGINT AS gp FROM dims GROUP BY 1))
             |SELECT lab.n AS n_vecs, lab.k AS n_labels,
             |  round(CASE WHEN lab.k <= 1 OR lab.n <= lab.k
             |      OR lab.sq::DOUBLE - lab.sc::DOUBLE <= 0.0 THEN NULL
             |    ELSE ((lab.sc::DOUBLE - s2tot.s2::DOUBLE / lab.n::DOUBLE)
             |      / (lab.k::DOUBLE - 1.0))
             |      / ((lab.sq::DOUBLE - lab.sc::DOUBLE)
             |         / (lab.n::DOUBLE - lab.k::DOUBLE)) END, 4)
             |    AS ch_index,
             |  round((lab.sc::DOUBLE - s2tot.s2::DOUBLE / lab.n::DOUBLE)
             |    / (lab.sq::DOUBLE - s2tot.s2::DOUBLE / lab.n::DOUBLE),
             |    6) AS between_frac
             |FROM lab, s2tot""".stripMargin)),

    // Taylor's power law (Taylor 1961): across parts, the variance
    // of weekly demand scales as Var ∝ Mean^b — b ≈ 1 is Poisson-
    // like ordering noise, b → 2 is synchronized/bursty demand; THE
    // aggregation-invariant dispersion fingerprint for inventory.
    // Per-part weekly moments need NO zero-fill explosion: with W
    // global weeks, Var = (Σq² − (Σq)²/W)/(W−1) from just Σq, Σq² —
    // so the plan is lineitem → (part, week) partial-agg → per-part
    // moments → 9-dp-quantized ln-ln OLS terms, three shuffles that
    // each REDUCE. The fit runs on exact DECIMAL sums; slope b and
    // r² are the only doubles.
    QueryDef("q_taylor_law",
      (s, d) => {
        val li = graft.sources.Tables.load(s, d, "lineitem")
          .join(graft.sources.Tables.load(s, d, "orders")
            .select(col("o_orderkey"), col("o_orderdate")),
            col("l_orderkey") === col("o_orderkey"))
          .select(col("l_partkey"),
            floor(datediff(col("o_orderdate"), lit("1992-01-01")) / 7)
              .cast("long").as("wk"),
            col("l_quantity").cast("long").as("q"))
        val pw = li.groupBy(col("l_partkey"), col("wk"))
          .agg(sum(col("q")).as("qw"))
        val weeks = broadcast(pw.agg(
          countDistinct(col("wk")).as("w")))
        val perPart = pw.groupBy(col("l_partkey"))
          .agg(sum(col("qw")).as("sq"),
            sum(col("qw").cast("decimal(38,0)") * col("qw")).as("sqq"))
          .crossJoin(weeks)
          .withColumn("mean", col("sq").cast("double") /
            col("w").cast("double"))
          .withColumn("vari", expr(
            """(cast(sqq as double)
              |  - cast(sq as double) * cast(sq as double)
              |    / cast(w as double))
              |/ (cast(w as double) - 1.0)""".stripMargin))
          .filter(col("mean") > 0 && col("vari") > 0)
          .select(
            expr("cast(round(ln(mean), 9) as decimal(28,9))").as("x"),
            expr("cast(round(ln(vari), 9) as decimal(28,9))").as("y"))
        val sums = perPart.agg(count(lit(1)).as("n"),
          sum(col("x")).as("sx"), sum(col("y")).as("sy"),
          sum(expr("cast(round(cast(x as double) * cast(x as double), 9)" +
            " as decimal(38,9))")).as("sxx"),
          sum(expr("cast(round(cast(x as double) * cast(y as double), 9)" +
            " as decimal(38,9))")).as("sxy"),
          sum(expr("cast(round(cast(y as double) * cast(y as double), 9)" +
            " as decimal(38,9))")).as("syy"))
        sums.select(col("n").as("n_parts"),
          round(expr(
            """(cast(n as double) * cast(sxy as double)
              | - cast(sx as double) * cast(sy as double))
              |/ (cast(n as double) * cast(sxx as double)
              | - cast(sx as double) * cast(sx as double))"""
              .stripMargin), 6).as("taylor_b"),
          round(expr(
            """(cast(sy as double)
              | - ((cast(n as double) * cast(sxy as double)
              |     - cast(sx as double) * cast(sy as double))
              |    / (cast(n as double) * cast(sxx as double)
              |     - cast(sx as double) * cast(sx as double)))
              |   * cast(sx as double)) / cast(n as double)"""
              .stripMargin), 6).as("ln_a"),
          round(expr(
            """pow((cast(n as double) * cast(sxy as double)
              |  - cast(sx as double) * cast(sy as double))
              |/ sqrt((cast(n as double) * cast(sxx as double)
              |    - cast(sx as double) * cast(sx as double))
              |  * (cast(n as double) * cast(syy as double)
              |    - cast(sy as double) * cast(sy as double))), 2.0)"""
              .stripMargin), 6).as("r2"))
      },
      Some("""WITH li AS (SELECT l_partkey,
             |    floor(datediff('day', DATE '1992-01-01',
             |      o_orderdate) / 7)::BIGINT AS wk,
             |    l_quantity::BIGINT AS q
             |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
             |pw AS (SELECT l_partkey, wk, sum(q)::BIGINT AS qw
             |  FROM li GROUP BY 1, 2),
             |weeks AS (SELECT count(DISTINCT wk)::BIGINT AS w FROM pw),
             |pp AS (SELECT
             |    round(ln(sq::DOUBLE / w::DOUBLE), 9)::DECIMAL(28,9)
             |      AS x,
             |    round(ln((sqq::DOUBLE - sq::DOUBLE * sq::DOUBLE
             |        / w::DOUBLE) / (w::DOUBLE - 1.0)), 9)
             |      ::DECIMAL(28,9) AS y
             |  FROM (SELECT l_partkey, sum(qw)::BIGINT AS sq,
             |      sum(qw::HUGEINT * qw) AS sqq FROM pw GROUP BY 1),
             |    weeks
             |  WHERE sq::DOUBLE / w::DOUBLE > 0
             |    AND (sqq::DOUBLE - sq::DOUBLE * sq::DOUBLE / w::DOUBLE)
             |      / (w::DOUBLE - 1.0) > 0),
             |a AS (SELECT count(*)::BIGINT AS n, sum(x) AS sx,
             |    sum(y) AS sy,
             |    sum(round(x::DOUBLE * x::DOUBLE, 9)::DECIMAL(38,9))
             |      AS sxx,
             |    sum(round(x::DOUBLE * y::DOUBLE, 9)::DECIMAL(38,9))
             |      AS sxy,
             |    sum(round(y::DOUBLE * y::DOUBLE, 9)::DECIMAL(38,9))
             |      AS syy
             |  FROM pp)
             |SELECT n AS n_parts,
             |  round((n::DOUBLE * sxy::DOUBLE - sx::DOUBLE * sy::DOUBLE)
             |    / (n::DOUBLE * sxx::DOUBLE - sx::DOUBLE * sx::DOUBLE),
             |    6) AS taylor_b,
             |  round((sy::DOUBLE
             |    - ((n::DOUBLE * sxy::DOUBLE - sx::DOUBLE * sy::DOUBLE)
             |       / (n::DOUBLE * sxx::DOUBLE
             |          - sx::DOUBLE * sx::DOUBLE)) * sx::DOUBLE)
             |    / n::DOUBLE, 6) AS ln_a,
             |  round(pow((n::DOUBLE * sxy::DOUBLE
             |      - sx::DOUBLE * sy::DOUBLE)
             |    / sqrt((n::DOUBLE * sxx::DOUBLE
             |        - sx::DOUBLE * sx::DOUBLE)
             |      * (n::DOUBLE * syy::DOUBLE
             |        - sy::DOUBLE * sy::DOUBLE)), 2.0), 6) AS r2
             |FROM a""".stripMargin)),

    // Hill tail-index estimator (Hill 1975) for purchase values —
    // "how heavy is the revenue tail?" (α < 2 = infinite variance,
    // α < 1 = infinite mean; the statistic behind whale-risk and
    // pricing-anomaly monitoring). The top-k order statistics are
    // selected BY RANK off the value-cell digest (cum-from-top, an
    // integer selection — no sort of raw rows), k = max(10, n/100).
    // Observations tied at the threshold contribute ln(x/x_k) = 0,
    // so the estimator reduces to Σ_{cells above} c·(ln v − ln x_k)
    // — each term 9-dp-quantized DECIMAL, one float division at the
    // end. α̂ = 1/H with its Fisher CI half-width α/√k.
    QueryDef("q_hill_tail",
      (s, d) => {
        val v = graft.sources.Tables.events(s, d)
          .filter(col("event_type") === "purchase")
          .select((col("value").cast("decimal(18,2)") * 100)
            .cast("long").as("vc"))
          .filter(col("vc") > 0)
        // r17 window audit: distributed prefix sum instead of the
        // unpartitioned cumulative window (9.8k rows through one task
        // at sf0.1, growing with the distinct-price domain)
        val cells = graft.analytics.Ranks.withRunningSum(
          v.groupBy(col("vc")).agg(count(lit(1)).as("c")),
          "c", "cumtop", Seq("vc" -> true))
        val n0 = broadcast(cells.agg(sum(col("c")).as("n"))
          .withColumn("k", greatest(lit(10L), expr("n div 100"))))
        val thr = broadcast(cells.crossJoin(n0)
          .filter(col("cumtop") >= col("k"))
          .agg(max(col("vc")).as("xk"), max(col("n")).as("n"),
            max(col("k")).as("k")))
        cells.crossJoin(thr)
          .filter(col("vc") > col("xk"))
          .agg(max(col("n")).as("n"), max(col("k")).as("k"),
            max(col("xk")).as("xk"),
            sum(expr(
              "cast(round(c * (ln(cast(vc as double))" +
                " - ln(cast(xk as double))), 9) as decimal(38,9))"))
              .as("hsum"))
          .select(col("n").as("n_purchases"), col("k"),
            round(col("xk").cast("double") / 100.0, 2).as("threshold"),
            round(expr("cast(hsum as double) / cast(k as double)"), 6)
              .as("hill_h"),
            round(expr(
              "cast(k as double) / cast(hsum as double)"), 4)
              .as("alpha"),
            round(expr(
              """(cast(k as double) / cast(hsum as double))
                |/ sqrt(cast(k as double))""".stripMargin), 4)
              .as("alpha_se"))
      },
      Some("""WITH v AS (SELECT (CAST(value AS DECIMAL(18,2)) * 100)
             |      ::BIGINT AS vc
             |  FROM events WHERE event_type = 'purchase'
             |    AND (CAST(value AS DECIMAL(18,2)) * 100)::BIGINT > 0),
             |cells AS (SELECT vc, count(*)::BIGINT AS c,
             |    sum(count(*)) OVER (ORDER BY vc DESC
             |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
             |      ::BIGINT AS cumtop
             |  FROM v GROUP BY vc),
             |n0 AS (SELECT sum(c)::BIGINT AS n,
             |    greatest(10, sum(c) // 100)::BIGINT AS k FROM cells),
             |thr AS (SELECT max(vc)::BIGINT AS xk, max(n0.n)::BIGINT
             |      AS n, max(n0.k)::BIGINT AS k
             |  FROM cells, n0 WHERE cells.cumtop >= n0.k),
             |h AS (SELECT max(thr.n)::BIGINT AS n,
             |    max(thr.k)::BIGINT AS k, max(thr.xk)::BIGINT AS xk,
             |    sum(round(cells.c * (ln(cells.vc::DOUBLE)
             |      - ln(thr.xk::DOUBLE)), 9)::DECIMAL(38,9)) AS hsum
             |  FROM cells, thr WHERE cells.vc > thr.xk)
             |SELECT n AS n_purchases, k,
             |  round(xk::DOUBLE / 100.0, 2) AS threshold,
             |  round(hsum::DOUBLE / k::DOUBLE, 6) AS hill_h,
             |  round(k::DOUBLE / hsum::DOUBLE, 4) AS alpha,
             |  round((k::DOUBLE / hsum::DOUBLE) / sqrt(k::DOUBLE), 4)
             |    AS alpha_se
             |FROM h""".stripMargin)),

    // Record-highs test (Foster & Stuart 1954): the count of days
    // whose revenue sets a new running maximum. Under exchangeability
    // E[R] = H_n and Var[R] = H_n − H_n⁽²⁾ (harmonic sums) — so an
    // excess of records is direct evidence of upward drift, with NO
    // distributional assumptions. Records come from an integer
    // running-max comparison on the calendar digest; the harmonic
    // sums are 9-dp-quantized DECIMAL folds of 1/t and 1/t², and z
    // is the single float at the end.
    QueryDef("q_record_highs",
      (s, d) => {
        val daily = graft.sources.Tables.events(s, d)
          .groupBy(to_date(col("ts")).as("day"))
          .agg((sum(col("value").cast("decimal(18,2)")) * lit(100))
            .cast("long").as("y"))
          .withColumn("t",
            row_number().over(Window.orderBy(col("day"))).cast("long"))
        val rec = daily
          .withColumn("prevmax", max(col("y")).over(
            Window.orderBy(col("t"))
              .rowsBetween(Window.unboundedPreceding, -1)))
          .agg(count(lit(1)).as("n"),
            sum(when(col("prevmax").isNull ||
              col("y") > col("prevmax"), 1L).otherwise(0L))
              .as("records"),
            sum(expr("cast(round(1.0 / t, 9) as decimal(28,9))"))
              .as("hn"),
            sum(expr("cast(round(1.0 / (cast(t as double) * t), 9)" +
              " as decimal(28,9))")).as("hn2"))
        rec.select(col("n").as("n_days"), col("records"),
          round(col("hn").cast("double"), 4).as("expected"),
          round(expr(
            """CASE WHEN cast(hn as double) - cast(hn2 as double)
              |    <= 0.0 THEN NULL
              |ELSE (cast(records as double) - cast(hn as double))
              |  / sqrt(cast(hn as double) - cast(hn2 as double)) END"""
              .stripMargin), 4).as("z"))
      },
      Some("""WITH daily AS (SELECT day, y,
             |    row_number() OVER (ORDER BY day) AS t FROM (
             |    SELECT ts::DATE AS day,
             |      (sum(CAST(value AS DECIMAL(18,2))) * 100)::BIGINT AS y
             |    FROM events GROUP BY 1)),
             |r AS (SELECT y, t, max(y) OVER (ORDER BY t
             |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
             |    AS prevmax FROM daily),
             |a AS (SELECT count(*)::BIGINT AS n,
             |    sum(CASE WHEN prevmax IS NULL OR y > prevmax
             |      THEN 1 ELSE 0 END)::BIGINT AS records,
             |    sum(round(1.0 / t, 9)::DECIMAL(28,9)) AS hn,
             |    sum(round(1.0 / (t::DOUBLE * t), 9)::DECIMAL(28,9))
             |      AS hn2
             |  FROM r)
             |SELECT n AS n_days, records,
             |  round(hn::DOUBLE, 4) AS expected,
             |  round(CASE WHEN hn::DOUBLE - hn2::DOUBLE <= 0.0
             |    THEN NULL
             |    ELSE (records::DOUBLE - hn::DOUBLE)
             |      / sqrt(hn::DOUBLE - hn2::DOUBLE) END, 4) AS z
             |FROM a""".stripMargin)),

    // Variance inflation factors for the three daily channel series
    // (view / click / purchase value sums) — the multicollinearity
    // diagnostic that says whether a marketing-mix regression on
    // these channels is even estimable. With three regressors the
    // inverse-correlation diagonal is closed-form: R²_x =
    // (r_xy² + r_xz² − 2·r_xy·r_xz·r_yz)/(1 − r_yz²), VIF = 1/(1−R²).
    // All correlations come from the same exact cents-grid sums as
    // q_partial_corr; the digest is the calendar, the fold is one
    // row.
    QueryDef("q_vif",
      (s, d) => {
        val daily = graft.sources.Tables.events(s, d)
          .groupBy(to_date(col("ts")).as("day"))
          .agg(
            (sum(when(col("event_type") === "view",
              col("value").cast("decimal(18,2)"))
              .otherwise(lit(0).cast("decimal(18,2)"))) * 100)
              .cast("long").as("x"),
            (sum(when(col("event_type") === "click",
              col("value").cast("decimal(18,2)"))
              .otherwise(lit(0).cast("decimal(18,2)"))) * 100)
              .cast("long").as("y"),
            (sum(when(col("event_type") === "purchase",
              col("value").cast("decimal(18,2)"))
              .otherwise(lit(0).cast("decimal(18,2)"))) * 100)
              .cast("long").as("z"))
        val m = daily.agg(count(lit(1)).as("n"),
          sum(col("x")).as("sx"), sum(col("y")).as("sy"),
          sum(col("z")).as("sz"),
          sum(col("x").cast("decimal(38,0)") * col("x")).as("sxx"),
          sum(col("y").cast("decimal(38,0)") * col("y")).as("syy"),
          sum(col("z").cast("decimal(38,0)") * col("z")).as("szz"),
          sum(col("x").cast("decimal(38,0)") * col("y")).as("sxy"),
          sum(col("x").cast("decimal(38,0)") * col("z")).as("sxz"),
          sum(col("y").cast("decimal(38,0)") * col("z")).as("syz"))
        def r(a: String, b: String, aa: String, bb: String,
              ab: String) =
          s"""((cast(n as double) * cast($ab as double)
             |  - cast($a as double) * cast($b as double))
             |/ sqrt((cast(n as double) * cast($aa as double)
             |    - cast($a as double) * cast($a as double))
             |  * (cast(n as double) * cast($bb as double)
             |    - cast($b as double) * cast($b as double))))"""
            .stripMargin
        val rxy = r("sx", "sy", "sxx", "syy", "sxy")
        val rxz = r("sx", "sz", "sxx", "szz", "sxz")
        val ryz = r("sy", "sz", "syy", "szz", "syz")
        def vif(rab: String, rac: String, rbc: String) =
          s"""(CASE WHEN 1.0 - $rbc * $rbc = 0.0 THEN NULL
             |WHEN 1.0 -
             |  ($rab * $rab + $rac * $rac
             |   - 2.0 * $rab * $rac * $rbc)
             |  / (1.0 - $rbc * $rbc) = 0.0 THEN NULL
             |ELSE 1.0 / (1.0 -
             |  ($rab * $rab + $rac * $rac
             |   - 2.0 * $rab * $rac * $rbc)
             |  / (1.0 - $rbc * $rbc)) END)""".stripMargin
        m.select(col("n").as("n_days"),
          round(expr(vif(rxy, rxz, ryz)), 4).as("vif_view"),
          round(expr(vif(rxy, ryz, rxz)), 4).as("vif_click"),
          round(expr(vif(rxz, ryz, rxy)), 4).as("vif_purchase"))
      },
      Some {
        def r(a: String, b: String, aa: String, bb: String,
              ab: String) =
          s"""((n::DOUBLE * $ab::DOUBLE - $a::DOUBLE * $b::DOUBLE)
             |/ sqrt((n::DOUBLE * $aa::DOUBLE - $a::DOUBLE * $a::DOUBLE)
             |  * (n::DOUBLE * $bb::DOUBLE - $b::DOUBLE * $b::DOUBLE)))"""
            .stripMargin
        val rxy = r("sx", "sy", "sxx", "syy", "sxy")
        val rxz = r("sx", "sz", "sxx", "szz", "sxz")
        val ryz = r("sy", "sz", "syy", "szz", "syz")
        def vif(rab: String, rac: String, rbc: String) =
          s"""(CASE WHEN 1.0 - $rbc * $rbc = 0.0 THEN NULL
             |WHEN 1.0 -
             |  ($rab * $rab + $rac * $rac
             |   - 2.0 * $rab * $rac * $rbc)
             |  / (1.0 - $rbc * $rbc) = 0.0 THEN NULL
             |ELSE 1.0 / (1.0 -
             |  ($rab * $rab + $rac * $rac
             |   - 2.0 * $rab * $rac * $rbc)
             |  / (1.0 - $rbc * $rbc)) END)""".stripMargin
        s"""WITH daily AS (SELECT ts::DATE AS day,
           |    (sum(CASE WHEN event_type = 'view'
           |        THEN CAST(value AS DECIMAL(18,2))
           |        ELSE CAST(0 AS DECIMAL(18,2)) END) * 100)::BIGINT
           |      AS x,
           |    (sum(CASE WHEN event_type = 'click'
           |        THEN CAST(value AS DECIMAL(18,2))
           |        ELSE CAST(0 AS DECIMAL(18,2)) END) * 100)::BIGINT
           |      AS y,
           |    (sum(CASE WHEN event_type = 'purchase'
           |        THEN CAST(value AS DECIMAL(18,2))
           |        ELSE CAST(0 AS DECIMAL(18,2)) END) * 100)::BIGINT
           |      AS z
           |  FROM events GROUP BY 1),
           |m AS (SELECT count(*)::BIGINT AS n,
           |    sum(x)::BIGINT AS sx, sum(y)::BIGINT AS sy,
           |    sum(z)::BIGINT AS sz,
           |    sum(x::HUGEINT * x) AS sxx, sum(y::HUGEINT * y) AS syy,
           |    sum(z::HUGEINT * z) AS szz, sum(x::HUGEINT * y) AS sxy,
           |    sum(x::HUGEINT * z) AS sxz, sum(y::HUGEINT * z) AS syz
           |  FROM daily)
           |SELECT n AS n_days,
           |  round(${vif(rxy, rxz, ryz)}, 4) AS vif_view,
           |  round(${vif(rxy, ryz, rxz)}, 4) AS vif_click,
           |  round(${vif(rxz, ryz, rxy)}, 4) AS vif_purchase
           |FROM m""".stripMargin
      }),

    // Monetary-tier migration matrix: each user's spend quintile in
    // the calendar's first half vs the second — the customer-
    // lifecycle transition table behind "are my top spenders
    // churning?". Tiers are spend quintiles per period (ntile over
    // (cents DESC, user_id), exactly reproducible); users absent
    // from a period enter as tier 0 ("new") / exit as tier 0
    // ("gone"). The per-user period digests are one shuffle each;
    // the matrix itself is ≤ 36 cells. Ties and quintile boundaries
    // match the oracle bit-for-bit because the ntile ORDER BY is a
    // total order.
    QueryDef("q_rfm_migration",
      (s, d) => {
        val ev = graft.sources.Tables.events(s, d)
        val mid = broadcast(ev.agg(min(to_date(col("ts"))).as("d0"),
            max(to_date(col("ts"))).as("d1"))
          .select(expr("date_add(d0, cast(datediff(d1, d0) div 2" +
            " as int))").as("m")))
        val spend = ev.crossJoin(mid)
          .groupBy(col("user_id"),
            (to_date(col("ts")) < col("m")).as("p1"))
          .agg(sum(floor(col("value") * 100).cast("long")).as("cents"))
        // r17 window audit: ntile over the USER-grain spend digest ran
        // unpartitioned (data-sized — one task holds every user at any
        // scale). Ranks.withNtile assigns the identical buckets from a
        // broadcast boundary digest with no global window (law pinned
        // in RanksSpec).
        def tiers(flag: Boolean, out: String) = graft.analytics.Ranks
          .withNtile(spend.filter(col("p1") === flag), 5, out,
            Seq("cents" -> true, "user_id" -> false))
          .select(col("user_id"), col(out))
        tiers(true, "t_from").join(tiers(false, "t_to"),
            Seq("user_id"), "full_outer")
          .groupBy(coalesce(col("t_from"), lit(0)).as("tier_from"),
            coalesce(col("t_to"), lit(0)).as("tier_to"))
          .agg(count(lit(1)).as("n_users"))
          .orderBy(col("tier_from"), col("tier_to"))
      },
      Some("""WITH b AS (SELECT min(ts::DATE) AS d0, max(ts::DATE) AS d1
             |  FROM events),
             |mid AS (SELECT d0 + (datediff('day', d0, d1) // 2)::INT
             |      AS m FROM b),
             |spend AS (SELECT user_id, ts::DATE < mid.m AS p1,
             |    sum(floor(value * 100)::BIGINT)::BIGINT AS cents
             |  FROM events, mid GROUP BY 1, 2),
             |t1 AS (SELECT user_id, ntile(5) OVER (
             |    ORDER BY cents DESC, user_id) AS t_from
             |  FROM spend WHERE p1),
             |t2 AS (SELECT user_id, ntile(5) OVER (
             |    ORDER BY cents DESC, user_id) AS t_to
             |  FROM spend WHERE NOT p1)
             |SELECT coalesce(t1.t_from, 0) AS tier_from,
             |  coalesce(t2.t_to, 0) AS tier_to,
             |  count(*)::BIGINT AS n_users
             |FROM t1 FULL OUTER JOIN t2 USING (user_id)
             |GROUP BY 1, 2 ORDER BY tier_from, tier_to"""
        .stripMargin)),

    // Competing-risks cumulative incidence (Aalen–Johansen 1978):
    // from each user's first event, which happens first — a big
    // purchase (conversion) or an error (failure)? The naive "1 −
    // KM per cause" overstates both; the correct CIF_k(t) =
    // Σ S(t⁻)·d_k/n uses the ALL-cause survival S. Structure
    // mirrors q_kaplan_meier: per-user reduction (one shuffle),
    // then a distinct-lifetime digest where S(t⁻) =
    // exp(Σ<t ln((n−d)/n)) and both CIFs are ascending window sums
    // — both engines fold identical terms in the identical
    // lifetime order.
    QueryDef("q_competing_risks",
      (s, d) => {
        val ev = graft.sources.Tables.events(s, d)
        val perUser = ev.groupBy(col("user_id"))
          .agg(min(to_date(col("ts"))).as("first_d"))
        val conv = ev.filter(col("event_type") === "purchase" &&
            col("value") >= 90)
          .groupBy(col("user_id").as("cu"))
          .agg(min(to_date(col("ts"))).as("conv_d"))
        val fail = ev.filter(col("event_type") === "error")
          .groupBy(col("user_id").as("fu"))
          .agg(min(to_date(col("ts"))).as("fail_d"))
        val horizon = ev.agg(max(to_date(col("ts"))).as("max_d"))
        val byT = perUser
          .join(conv, col("user_id") === col("cu"), "left")
          .join(fail, col("user_id") === col("fu"), "left")
          .crossJoin(broadcast(horizon))
          .withColumn("end_d", least(
            coalesce(col("conv_d"), col("max_d")),
            coalesce(col("fail_d"), col("max_d"))))
          .withColumn("cause",
            when(col("conv_d").isNotNull &&
              col("conv_d") <= coalesce(col("fail_d"), col("conv_d")),
              lit(1))
              .when(col("fail_d").isNotNull, lit(2)).otherwise(lit(0)))
          .withColumn("lifetime", datediff(col("end_d"), col("first_d")))
          .groupBy(col("lifetime"))
          .agg(sum(when(col("cause") === 1, 1L).otherwise(0L)).as("d1"),
            sum(when(col("cause") === 2, 1L).otherwise(0L)).as("d2"),
            sum(when(col("cause") === 0, 1L).otherwise(0L)).as("nc"))
        val wDesc = Window.orderBy(col("lifetime").desc)
          .rowsBetween(Window.unboundedPreceding, 0)
        val wPrev = Window.orderBy(col("lifetime"))
          .rowsBetween(Window.unboundedPreceding, -1)
        val wAsc = Window.orderBy(col("lifetime"))
          .rowsBetween(Window.unboundedPreceding, 0)
        byT
          .withColumn("n_risk",
            sum(col("d1") + col("d2") + col("nc")).over(wDesc))
          // the max-lifetime row can have n_risk == d1+d2 (no
          // survivors); its ln term is never consumed by any later
          // row's S(t⁻), so pin it to 0 instead of ln(0)
          .withColumn("ln_term",
            when(col("n_risk") - col("d1") - col("d2") === 0, lit(0.0))
              .otherwise(log(
                (col("n_risk") - col("d1") - col("d2")).cast("double") /
                  col("n_risk").cast("double"))))
          .withColumn("s_prev",
            exp(coalesce(sum(col("ln_term")).over(wPrev), lit(0.0))))
          .withColumn("cif1", sum(col("s_prev") *
            col("d1").cast("double") / col("n_risk").cast("double"))
            .over(wAsc))
          .withColumn("cif2", sum(col("s_prev") *
            col("d2").cast("double") / col("n_risk").cast("double"))
            .over(wAsc))
          .filter(col("d1") + col("d2") > 0)
          .select(col("lifetime").as("t_days"), col("n_risk"),
            col("d1").as("n_conversions"), col("d2").as("n_errors"),
            round(col("cif1"), 6).as("cif_conversion"),
            round(col("cif2"), 6).as("cif_error"))
          .orderBy(col("t_days"))
      },
      Some("""WITH pu AS (SELECT user_id, min(ts::DATE) AS first_d
             |  FROM events GROUP BY 1),
             |conv AS (SELECT user_id, min(ts::DATE) AS conv_d FROM events
             |  WHERE event_type = 'purchase' AND value >= 90 GROUP BY 1),
             |fl AS (SELECT user_id, min(ts::DATE) AS fail_d FROM events
             |  WHERE event_type = 'error' GROUP BY 1),
             |h AS (SELECT max(ts::DATE) AS max_d FROM events),
             |u AS (SELECT pu.user_id, pu.first_d,
             |    least(coalesce(conv.conv_d, h.max_d),
             |      coalesce(fl.fail_d, h.max_d)) AS end_d,
             |    CASE WHEN conv.conv_d IS NOT NULL
             |        AND conv.conv_d <= coalesce(fl.fail_d, conv.conv_d)
             |      THEN 1
             |      WHEN fl.fail_d IS NOT NULL THEN 2 ELSE 0 END AS cause
             |  FROM pu
             |  LEFT JOIN conv ON conv.user_id = pu.user_id
             |  LEFT JOIN fl ON fl.user_id = pu.user_id, h),
             |byt AS (SELECT datediff('day', first_d, end_d) AS lifetime,
             |    sum(CASE WHEN cause = 1 THEN 1 ELSE 0 END)::BIGINT AS d1,
             |    sum(CASE WHEN cause = 2 THEN 1 ELSE 0 END)::BIGINT AS d2,
             |    sum(CASE WHEN cause = 0 THEN 1 ELSE 0 END)::BIGINT AS nc
             |  FROM u GROUP BY 1),
             |r AS (SELECT lifetime, d1, d2,
             |    sum(d1 + d2 + nc) OVER (ORDER BY lifetime DESC
             |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
             |      ::BIGINT AS n_risk
             |  FROM byt),
             |sv AS (SELECT lifetime, d1, d2, n_risk,
             |    exp(coalesce(sum(CASE WHEN n_risk - d1 - d2 = 0
             |        THEN 0.0 ELSE ln((n_risk - d1 - d2)::DOUBLE
             |        / n_risk::DOUBLE) END) OVER (ORDER BY lifetime
             |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
             |      0.0)) AS s_prev
             |  FROM r),
             |c AS (SELECT lifetime, d1, d2, n_risk,
             |    sum(s_prev * d1::DOUBLE / n_risk::DOUBLE)
             |      OVER (ORDER BY lifetime ROWS BETWEEN UNBOUNDED
             |      PRECEDING AND CURRENT ROW) AS cif1,
             |    sum(s_prev * d2::DOUBLE / n_risk::DOUBLE)
             |      OVER (ORDER BY lifetime ROWS BETWEEN UNBOUNDED
             |      PRECEDING AND CURRENT ROW) AS cif2
             |  FROM sv)
             |SELECT lifetime AS t_days, n_risk, d1 AS n_conversions,
             |  d2 AS n_errors, round(cif1, 6) AS cif_conversion,
             |  round(cif2, 6) AS cif_error
             |FROM c WHERE d1 + d2 > 0 ORDER BY t_days"""
        .stripMargin)),

    // Empirical semivariogram of daily revenue, lags 1–14 days
    // (Matheron 1963): γ(h) = Σ(y_t − y_{t+h})²/(2N_h) — the
    // geostatistics view of temporal structure that q_acf_lags'
    // correlation view can mask when the mean drifts. Squared
    // differences are EXACT HUGEINT/DECIMAL products on the cents
    // grid; the lag fan-out is a 14-way broadcast over the calendar
    // digest, and the single float division lands at the very end
    // (reported in dollars²).
    QueryDef("q_variogram",
      (s, d) => {
        val daily = graft.sources.Tables.events(s, d)
          .groupBy(to_date(col("ts")).as("day"))
          .agg((sum(col("value").cast("decimal(18,2)")) * lit(100))
            .cast("long").as("y"))
          .withColumn("t",
            row_number().over(Window.orderBy(col("day"))).cast("long"))
        val lags = broadcast(s.range(1, 15).toDF("h"))
        val a = daily.select(col("t"), col("y"))
        val b = daily.select(col("t").as("t2"), col("y").as("y2"))
        a.crossJoin(lags)
          .join(b, col("t2") === col("t") + col("h"))
          .groupBy(col("h"))
          .agg(count(lit(1)).as("n_pairs"),
            sum(((col("y") - col("y2")).cast("decimal(38,0)") *
              (col("y") - col("y2")))).as("ssq"))
          .select(col("h").as("lag_days"), col("n_pairs"),
            round(col("ssq").cast("double") /
              (lit(2.0) * col("n_pairs").cast("double")) / 10000.0, 4)
              .as("gamma"))
          .orderBy(col("lag_days"))
      },
      Some("""WITH daily AS (SELECT day, y,
             |    row_number() OVER (ORDER BY day) AS t FROM (
             |    SELECT ts::DATE AS day,
             |      (sum(CAST(value AS DECIMAL(18,2))) * 100)::BIGINT AS y
             |    FROM events GROUP BY 1)),
             |lags AS (SELECT unnest(range(1, 15))::BIGINT AS h),
             |p AS (SELECT lags.h, a.y, b.y AS y2
             |  FROM daily a, lags
             |  JOIN daily b ON b.t = a.t + lags.h)
             |SELECT h AS lag_days, count(*)::BIGINT AS n_pairs,
             |  round(sum((y - y2)::HUGEINT * (y - y2))::DOUBLE
             |    / (2.0 * count(*)::DOUBLE) / 10000.0, 4) AS gamma
             |FROM p GROUP BY 1 ORDER BY lag_days""".stripMargin)),

    // N-gram duplication profile (the RefinedWeb/"memorization risk"
    // curve): for n ∈ {1, 2, 4, 8}, what fraction of the corpus's
    // n-gram INSTANCES are repeats of an already-seen n-gram?
    // Unigrams repeat almost always; if the 8-gram dup share is
    // still high, the corpus has real template/boilerplate mass
    // that per-doc dedup missed. Shuffles only 60-bit hashes
    // (corpus-scale discipline: never group wide strings), one
    // (n, hash) aggregation for all four sizes.
    QueryDef("text_dup_ngram_profile",
      (s, d) => {
        // all four n-gram sizes hash in ONE fused map pass over a
        // fanned-out scan (ShinglesPos60 per size; a <n-token doc
        // yields an empty array = the old length filter). The
        // crossJoin+transform spelling paid a per-position concat +
        // hex-string md5 + conv parse AND ran on the raw input splits
        // (1 task at 1×, 10 at 10× — the sweep's single-stage
        // straggler); the kernel + fanOut spreads it to full width.
        val thf = graft.functions.TextHashFunctions
        val grams = graft.sources.Tables.load(s, d, "documents")
          .transform(graft.queries.QueryDef.fanOut)
          .select(array(Seq(1, 2, 4, 8).map(n =>
            struct(lit(n).as("n"),
              thf.shinglesPos60(col("text"), n).as("hs"))): _*).as("a"))
          .select(explode(col("a")).as("e"))
          .select(col("e.n").as("n"), explode(col("e.hs")).as("gh"))
        grams.groupBy(col("n"), col("gh"))
          .agg(count(lit(1)).as("c"))
          .groupBy(col("n"))
          .agg(sum(col("c")).as("total_grams"),
            count(lit(1)).as("distinct_grams"))
          .select(col("n").cast("long").as("n"), col("total_grams"),
            col("distinct_grams"),
            expr("(total_grams - distinct_grams) * 1000000" +
              " div total_grams").as("dup_ppm"))
          .orderBy(col("n"))
      },
      Some("""WITH tk AS (SELECT string_split(lower(text), ' ') AS tk
             |  FROM documents),
             |sizes AS (SELECT unnest([1, 2, 4, 8])::BIGINT AS n),
             |grams AS (SELECT sizes.n,
             |    unnest(list_transform(range(1, len(tk) - n + 2),
             |      i -> ('0x' || substring(md5(
             |        array_to_string(tk[i:i+n-1], ' ')), 1, 15))
             |        ::BIGINT)) AS gh
             |  FROM tk, sizes WHERE len(tk) >= sizes.n),
             |pc AS (SELECT n, gh, count(*)::BIGINT AS c FROM grams
             |  GROUP BY 1, 2)
             |SELECT n, sum(c)::BIGINT AS total_grams,
             |  count(*)::BIGINT AS distinct_grams,
             |  ((sum(c) - count(*)) * 1000000 // sum(c))::BIGINT
             |    AS dup_ppm
             |FROM pc GROUP BY 1 ORDER BY n""".stripMargin)),

    // Differentially-private median release via the EXPONENTIAL
    // MECHANISM (McSherry & Talwar 2007) — the DP primitive for
    // rank statistics, completing the DP family next to
    // pipe_dp_count_release's Laplace counts. Candidates are the
    // purchase-value cells; utility u(c) = −|2·cum_<(c) + t_c − n|
    // (distance from rank balance, sensitivity 2); selection uses
    // the Gumbel-max trick with md5-derived uniforms so BOTH
    // engines replay the identical "randomness" bit-for-bit — the
    // release is graded exactly, not statistically. One digest
    // pass; three ε rows.
    QueryDef("pipe_dp_quantile_release",
      (s, d) => {
        val v = graft.sources.Tables.events(s, d)
          .filter(col("event_type") === "purchase")
          .select((col("value").cast("decimal(18,2)") * 100)
            .cast("long").as("vc"))
        // r17 window audit: distributed prefix sum (exclusive form =
        // inclusive − own count) instead of the unpartitioned
        // cumulative window over the distinct-price digest
        val cells = graft.analytics.Ranks.withRunningSum(
            v.groupBy(col("vc")).agg(count(lit(1)).as("t")),
            "t", "__cuminc", Seq("vc" -> false))
          .withColumn("cumlt", col("__cuminc") - col("t"))
          .drop("__cuminc")
        val n0 = broadcast(cells.agg(sum(col("t")).as("n")))
        val eps = broadcast(s.createDataFrame(
          Seq("0.01", "0.1", "1.0").map(Tuple1(_))).toDF("eps"))
        val trueMed = broadcast(cells.crossJoin(n0)
          .filter(col("cumlt") + col("t") >= expr("(n + 1) div 2"))
          .agg(min(col("vc")).as("tm")))
        val scored = cells.crossJoin(n0).crossJoin(eps)
          .withColumn("u",
            -abs(lit(2L) * col("cumlt") + col("t") - col("n")))
          .withColumn("g", expr(
            """-ln(-ln((cast(conv(substring(md5(
              |  'dpq:' || eps || ':' || cast(vc as string)), 1, 15),
              |  16, 10) as double) + 0.5) / 1152921504606846976.0))"""
              .stripMargin))
          .withColumn("score",
            expr("cast(eps as double)") * col("u") / 2.0 + col("g"))
          .withColumn("rk", row_number().over(
            Window.partitionBy(col("eps"))
              .orderBy(col("score").desc, col("vc"))))
          .filter(col("rk") === 1)
        scored.crossJoin(trueMed)
          .select(col("eps"), col("n").as("n_purchases"),
            round(col("vc").cast("double") / 100.0, 2).as("dp_median"),
            round(col("tm").cast("double") / 100.0, 2)
              .as("true_median"),
            round(abs(col("vc") - col("tm")).cast("double") / 100.0, 2)
              .as("abs_err"))
          .orderBy(col("eps"))
      },
      Some("""WITH v AS (SELECT (CAST(value AS DECIMAL(18,2)) * 100)
             |      ::BIGINT AS vc
             |  FROM events WHERE event_type = 'purchase'),
             |cells AS (SELECT vc, count(*)::BIGINT AS t,
             |    coalesce(sum(count(*)) OVER (ORDER BY vc
             |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
             |      0)::BIGINT AS cumlt
             |  FROM v GROUP BY vc),
             |n0 AS (SELECT sum(t)::BIGINT AS n FROM cells),
             |eps AS (SELECT unnest(['0.01', '0.1', '1.0']) AS eps),
             |tm AS (SELECT min(vc)::BIGINT AS tm FROM cells, n0
             |  WHERE cumlt + t >= (n0.n + 1) // 2),
             |sc AS (SELECT eps.eps, n0.n, cells.vc,
             |    eps.eps::DOUBLE
             |      * (-abs(2 * cells.cumlt + cells.t - n0.n)) / 2.0
             |    + (-ln(-ln((('0x' || substring(md5(
             |        'dpq:' || eps.eps || ':' || cells.vc::VARCHAR),
             |        1, 15))::BIGINT::DOUBLE + 0.5)
             |      / 1152921504606846976.0))) AS score
             |  FROM cells, n0, eps),
             |pick AS (SELECT eps, n, vc FROM sc
             |  QUALIFY row_number() OVER (PARTITION BY eps
             |    ORDER BY score DESC, vc) = 1)
             |SELECT pick.eps, pick.n AS n_purchases,
             |  round(pick.vc::DOUBLE / 100.0, 2) AS dp_median,
             |  round(tm.tm::DOUBLE / 100.0, 2) AS true_median,
             |  round(abs(pick.vc - tm.tm)::DOUBLE / 100.0, 2)
             |    AS abs_err
             |FROM pick, tm ORDER BY eps""".stripMargin)),

    // Sobel mediation test (Baron & Kenny 1986; Sobel 1982): does
    // daily view volume drive revenue THROUGH clicks? Path a
    // (clicks ~ views) and path b (revenue ~ clicks | views) come
    // from closed-form one- and two-regressor OLS over the calendar
    // digest — centered moments from EXACT integer sums, standard
    // errors from the residual quadratic forms, and the indirect
    // effect a·b with Sobel z = ab/√(a²·se_b² + b²·se_a²) as the
    // final float fold. One shuffle; one row.
    QueryDef("q_sobel_mediation",
      (s, d) => {
        val daily = graft.sources.Tables.events(s, d)
          .groupBy(to_date(col("ts")).as("day"))
          .agg(
            sum(when(col("event_type") === "view", 1L).otherwise(0L))
              .as("x"),
            sum(when(col("event_type") === "click", 1L).otherwise(0L))
              .as("mm"),
            (sum(col("value").cast("decimal(18,2)")) * lit(100))
              .cast("long").as("y"))
        val g = daily.agg(count(lit(1)).as("n"),
          sum(col("x")).as("sx"), sum(col("mm")).as("sm"),
          sum(col("y")).as("sy"),
          sum(col("x") * col("x")).as("sxx"),
          sum(col("x") * col("mm")).as("sxm"),
          sum(col("x").cast("decimal(38,0)") * col("y")).as("sxy"),
          sum(col("mm") * col("mm")).as("smm"),
          sum(col("mm").cast("decimal(38,0)") * col("y")).as("smy"),
          sum(col("y").cast("decimal(38,0)") * col("y")).as("syy"))
        // centered moments (doubles off exact sums), then:
        //   a  = Cxm/Cxx            se_a² = (Cmm − a·Cxm)/(n−2)/Cxx
        //   b  = (Cxx·Cmy − Cxm·Cxy)/det   (det = Cxx·Cmm − Cxm²)
        //   σ² = (Cyy − c1·Cxy − b·Cmy)/(n−3), se_b² = σ²·Cxx/det
        val c = g.selectExpr("n",
          "cast(sxx as double) - cast(sx as double) * sx / n AS cxx",
          "cast(sxm as double) - cast(sx as double) * sm / n AS cxm",
          "cast(smm as double) - cast(sm as double) * sm / n AS cmm",
          "cast(sxy as double) - cast(sx as double)" +
            " * cast(sy as double) / n AS cxy",
          "cast(smy as double) - cast(sm as double)" +
            " * cast(sy as double) / n AS cmy",
          "cast(syy as double) - cast(sy as double)" +
            " * cast(sy as double) / n AS cyy")
        c.selectExpr("n",
            "cxm / cxx AS a",
            "(cmm - (cxm / cxx) * cxm) / (n - 2) / cxx AS se_a2",
            "(cxx * cmy - cxm * cxy) / (cxx * cmm - cxm * cxm) AS b",
            "((cmm * cxy - cxm * cmy) / (cxx * cmm - cxm * cxm)) AS c1",
            "cxy", "cmy", "cyy",
            "cxx * cmm - cxm * cxm AS det", "cxx")
          .selectExpr("n", "a", "b", "se_a2",
            "(cyy - c1 * cxy - b * cmy) / (n - 3) * cxx / det AS se_b2")
          .selectExpr("n AS n_days",
            "round(a, 6) AS path_a",
            "round(b, 9) AS path_b",
            "round(a * b, 9) AS indirect",
            """round(CASE WHEN a * a * se_b2 + b * b * se_a2 <= 0.0
              |  THEN NULL
              |  ELSE a * b / sqrt(a * a * se_b2 + b * b * se_a2)
              |  END, 4) AS sobel_z""".stripMargin)
      },
      Some("""WITH daily AS (SELECT ts::DATE AS day,
             |    sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END)
             |      ::BIGINT AS x,
             |    sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
             |      ::BIGINT AS m,
             |    (sum(CAST(value AS DECIMAL(18,2))) * 100)::BIGINT AS y
             |  FROM events GROUP BY 1),
             |g AS (SELECT count(*)::BIGINT AS n, sum(x)::BIGINT AS sx,
             |    sum(m)::BIGINT AS sm, sum(y)::BIGINT AS sy,
             |    sum(x * x)::BIGINT AS sxx, sum(x * m)::BIGINT AS sxm,
             |    sum(x::HUGEINT * y) AS sxy, sum(m * m)::BIGINT AS smm,
             |    sum(m::HUGEINT * y) AS smy, sum(y::HUGEINT * y) AS syy
             |  FROM daily),
             |c AS (SELECT n,
             |    sxx::DOUBLE - sx::DOUBLE * sx / n AS cxx,
             |    sxm::DOUBLE - sx::DOUBLE * sm / n AS cxm,
             |    smm::DOUBLE - sm::DOUBLE * sm / n AS cmm,
             |    sxy::DOUBLE - sx::DOUBLE * sy::DOUBLE / n AS cxy,
             |    smy::DOUBLE - sm::DOUBLE * sy::DOUBLE / n AS cmy,
             |    syy::DOUBLE - sy::DOUBLE * sy::DOUBLE / n AS cyy
             |  FROM g),
             |p AS (SELECT n, cxm / cxx AS a,
             |    (cmm - (cxm / cxx) * cxm) / (n - 2) / cxx AS se_a2,
             |    (cxx * cmy - cxm * cxy) / (cxx * cmm - cxm * cxm) AS b,
             |    (cmm * cxy - cxm * cmy) / (cxx * cmm - cxm * cxm)
             |      AS c1,
             |    cxy, cmy, cyy, cxx * cmm - cxm * cxm AS det, cxx
             |  FROM c),
             |q AS (SELECT n, a, b, se_a2,
             |    (cyy - c1 * cxy - b * cmy) / (n - 3) * cxx / det
             |      AS se_b2
             |  FROM p)
             |SELECT n AS n_days, round(a, 6) AS path_a,
             |  round(b, 9) AS path_b, round(a * b, 9) AS indirect,
             |  round(CASE WHEN a * a * se_b2 + b * b * se_a2 <= 0.0
             |    THEN NULL
             |    ELSE a * b / sqrt(a * a * se_b2 + b * b * se_a2)
             |    END, 4) AS sobel_z
             |FROM q""".stripMargin)),

    // Classical price indices (Laspeyres 1871; Paasche 1874; Fisher
    // 1922) between the order calendar's two halves: per part, the
    // average unit price and total quantity in each period; L keeps
    // base-period baskets, P current-period, F their geometric
    // mean. Every per-part term (p̄₂·q₁ etc.) is a 6-dp-quantized
    // DECIMAL so the four basket sums are partition-order-free;
    // parts must trade in BOTH halves to enter. Two shuffles
    // (order join, part agg) that both reduce.
    QueryDef("q_price_index",
      (s, d) => {
        val li = graft.sources.Tables.load(s, d, "lineitem")
          .join(graft.sources.Tables.load(s, d, "orders")
            .select(col("o_orderkey"),
              to_date(col("o_orderdate")).as("od")),
            col("l_orderkey") === col("o_orderkey"))
        val mid = broadcast(li.agg(min(col("od")).as("d0"),
            max(col("od")).as("d1"))
          .select(expr("date_add(d0, cast(datediff(d1, d0) div 2" +
            " as int))").as("m")))
        val per = li.crossJoin(mid)
          .groupBy(col("l_partkey"),
            (col("od") < col("m")).as("p1"))
          .agg((sum(col("l_extendedprice").cast("decimal(18,2)")) *
            100).cast("long").as("ec"),
            sum(col("l_quantity").cast("long")).as("q"))
        val both = per.filter(col("p1"))
          .select(col("l_partkey"), col("ec").as("e1"),
            col("q").as("q1"))
          .join(per.filter(!col("p1"))
            .select(col("l_partkey").as("pk2"), col("ec").as("e2"),
              col("q").as("q2")),
            col("l_partkey") === col("pk2"))
        val sums = both.agg(count(lit(1)).as("n_parts"),
          sum(expr("cast(round(cast(e2 as double) / q2 * q1, 6)" +
            " as decimal(38,6))")).as("p2q1"),
          sum(expr("cast(round(cast(e1 as double) / q1 * q1, 6)" +
            " as decimal(38,6))")).as("p1q1"),
          sum(expr("cast(round(cast(e2 as double) / q2 * q2, 6)" +
            " as decimal(38,6))")).as("p2q2"),
          sum(expr("cast(round(cast(e1 as double) / q1 * q2, 6)" +
            " as decimal(38,6))")).as("p1q2"))
        sums.select(col("n_parts"),
          round(expr("cast(p2q1 as double) / cast(p1q1 as double)"), 6)
            .as("laspeyres"),
          round(expr("cast(p2q2 as double) / cast(p1q2 as double)"), 6)
            .as("paasche"),
          round(expr(
            """sqrt((cast(p2q1 as double) / cast(p1q1 as double))
              |  * (cast(p2q2 as double) / cast(p1q2 as double)))"""
              .stripMargin), 6).as("fisher"))
      },
      Some("""WITH li AS (SELECT l_partkey, l_extendedprice,
             |    l_quantity, o_orderdate::DATE AS od
             |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
             |b AS (SELECT min(od) AS d0, max(od) AS d1 FROM li),
             |mid AS (SELECT d0 + (datediff('day', d0, d1) // 2)::INT
             |      AS m FROM b),
             |per AS (SELECT l_partkey, od < mid.m AS p1,
             |    (sum(CAST(l_extendedprice AS DECIMAL(18,2))) * 100)
             |      ::BIGINT AS ec,
             |    sum(l_quantity)::BIGINT AS q
             |  FROM li, mid GROUP BY 1, 2),
             |pb AS (SELECT a.l_partkey, a.ec AS e1, a.q AS q1,
             |    c.ec AS e2, c.q AS q2
             |  FROM per a JOIN per c ON a.l_partkey = c.l_partkey
             |  WHERE a.p1 AND NOT c.p1),
             |sums AS (SELECT count(*)::BIGINT AS n_parts,
             |    sum(round(e2::DOUBLE / q2 * q1, 6)::DECIMAL(38,6))
             |      AS p2q1,
             |    sum(round(e1::DOUBLE / q1 * q1, 6)::DECIMAL(38,6))
             |      AS p1q1,
             |    sum(round(e2::DOUBLE / q2 * q2, 6)::DECIMAL(38,6))
             |      AS p2q2,
             |    sum(round(e1::DOUBLE / q1 * q2, 6)::DECIMAL(38,6))
             |      AS p1q2
             |  FROM pb)
             |SELECT n_parts,
             |  round(p2q1::DOUBLE / p1q1::DOUBLE, 6) AS laspeyres,
             |  round(p2q2::DOUBLE / p1q2::DOUBLE, 6) AS paasche,
             |  round(sqrt((p2q1::DOUBLE / p1q1::DOUBLE)
             |    * (p2q2::DOUBLE / p1q2::DOUBLE)), 6) AS fisher
             |FROM sums""".stripMargin)),

    // Weekly co-purchase graph evolution: per order-week, the
    // distinct part-pair edge count, node count, density, and the
    // share of edges never seen in ANY earlier week — the
    // "assortment novelty" curve that distinguishes a catalog
    // adding genuinely new combinations from one recycling the same
    // baskets. Edges are generated within orders only (order width
    // is bounded, so the self-join is linear in lineitems), shuffled
    // by edge key; first-appearance weeks come from one min-agg over
    // the same edge digest.
    QueryDef("q_network_density_weekly",
      (s, d) => {
        // ONE explicit hash(ok) exchange serves THREE consumers with
        // zero extra heavy shuffles (r16 rewrite, interleaved A/B
        // medians 2.49 s -> 1.66 s at sf0.1/32c): the (ok, p) dedup
        // aggregate (ClusteredDistribution(ok, p) is satisfied by the
        // hash(ok) partitioning), the co-partitioned self-join that
        // generates pairs (order width is bounded, so the merge
        // fan-out is linear), and the per-week node count. The old
        // shape built a sorted part-set array per order
        // (ObjectHashAggregate collect_set — not codegen'd), persisted
        // it, fanned pairs out of the arrays, and collect_set(wk) per
        // pair; the all-long self-join + codegen HashAggregate beats
        // it at BOTH ends (the reciprocity A/B in R12 measured the
        // same array-vs-join tradeoff the same way). Pair tallies:
        // one hash(a, b) repartition whose partitioning serves both
        // the (a, b, wk) dedup aggregate AND the first-appearance-
        // week window (min over the pair partition), then the ≤366-
        // week groupBy rides map-side partial agg. No persist — every
        // consumer folds into one DAG, so nothing is held or leaked.
        // r17 (ADVICE): no explicit broadcast hint — orders is scale-
        // proportional, so a forced broadcast would OOM the driver at
        // large SF; at bench SF the planner's size estimate broadcasts
        // the 2-column projection anyway (same plan), and at scale it
        // correctly falls back to a shuffle join.
        val li = graft.sources.Tables.load(s, d, "lineitem")
          .join(graft.sources.Tables.load(s, d, "orders")
            .select(col("o_orderkey"), col("o_orderdate")),
            col("l_orderkey") === col("o_orderkey"))
          .select(col("l_orderkey").as("ok"),
            floor(datediff(col("o_orderdate"), lit("1992-01-01")) / 7)
              .cast("long").as("wk"),
            col("l_partkey").as("p"))
          // r17 NEGATIVE RESULT: pinning this exchange at runtime
          // width (32) was tried per HotProbe (16 s CPU through 8
          // tasks) and measured WORSE — wall 2.51 -> 3.34 s, CPU
          // 16 -> 57 s: this host's 32 logical cores share memory
          // bandwidth, and the hash-heavy dedup/join work runs past
          // the saturation knee. The session's 8-partition conf is
          // the right width here; kept.
          .repartition(col("ok"))
          .groupBy(col("ok"), col("p")).agg(min(col("wk")).as("wk"))
        val pairs = li.select(col("ok"), col("wk"), col("p").as("a"))
          .join(li.select(col("ok").as("ok2"), col("p").as("b")),
            col("ok") === col("ok2") && col("a") < col("b"))
          .select(col("wk"), col("a"), col("b"))
        val nodes = li.groupBy(col("wk"))
          .agg(countDistinct(col("p")).as("v"))
        val wPair = Window.partitionBy(col("a"), col("b"))
        pairs.repartition(col("a"), col("b"))
          .groupBy(col("a"), col("b"), col("wk"))
          .agg(count(lit(1)).as("__n"))
          .withColumn("fw", min(col("wk")).over(wPair))
          .groupBy(col("wk"))
          .agg(count(lit(1)).as("n_edges"),
            sum(when(col("fw") === col("wk"), 1L).otherwise(0L))
              .as("new_edges"))
          .join(nodes, Seq("wk"))
          .select(col("wk").as("week"), col("v").as("n_parts"),
            col("n_edges"), col("new_edges"),
            round(expr(
              """CASE WHEN v <= 1 THEN NULL
                |ELSE 2.0 * n_edges
                |  / (cast(v as double) * (v - 1)) END""".stripMargin),
              6).as("density"),
            expr("new_edges * 1000000 div n_edges").as("new_ppm"))
          .orderBy(col("week"))
      },
      Some("""WITH li AS (SELECT DISTINCT l_orderkey AS ok,
             |    floor(datediff('day', DATE '1992-01-01',
             |      o_orderdate) / 7)::BIGINT AS wk,
             |    l_partkey AS p
             |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
             |edges AS (SELECT DISTINCT a.wk, a.p AS a, b.p AS b
             |  FROM li a JOIN li b ON a.ok = b.ok AND a.p < b.p),
             |fw AS (SELECT a, b, min(wk)::BIGINT AS fw FROM edges
             |  GROUP BY 1, 2),
             |nodes AS (SELECT wk, count(DISTINCT p)::BIGINT AS v
             |  FROM li GROUP BY 1),
             |e AS (SELECT edges.wk, count(*)::BIGINT AS n_edges,
             |    sum(CASE WHEN fw.fw = edges.wk THEN 1 ELSE 0 END)
             |      ::BIGINT AS new_edges
             |  FROM edges JOIN fw ON edges.a = fw.a AND edges.b = fw.b
             |  GROUP BY 1)
             |SELECT e.wk AS week, nodes.v AS n_parts, e.n_edges,
             |  e.new_edges,
             |  round(CASE WHEN nodes.v <= 1 THEN NULL
             |    ELSE 2.0 * e.n_edges
             |      / (nodes.v::DOUBLE * (nodes.v - 1)) END, 6)
             |    AS density,
             |  (e.new_edges * 1000000 // e.n_edges)::BIGINT AS new_ppm
             |FROM e JOIN nodes ON e.wk = nodes.wk
             |ORDER BY week""".stripMargin)),

    // Process-capability indices (Juran 1974): Cp / Cpk of the
    // 'view' sensor channel against fixed spec limits [5, 95] —
    // the SPC readout a robotics pipeline computes per sensor to
    // say "is this channel even capable of staying in spec?".
    // Moments come from exact 1e-3-grid integer sums; the
    // out-of-spec count is a pure INTEGER comparison (no float
    // boundary), and Cp/Cpk/σ are the final floats.
    QueryDef("q_cpk_capability",
      (s, d) => {
        val v = graft.sources.Tables.events(s, d)
          .filter(col("event_type") === "view")
          .select(floor(col("value") * 1000).cast("long").as("vm"))
        val a = v.agg(count(lit(1)).as("n"), sum(col("vm")).as("sv"),
          sum(col("vm").cast("decimal(38,0)") * col("vm")).as("svv"),
          sum(when(col("vm") < 5000 || col("vm") > 95000, 1L)
            .otherwise(0L)).as("oos"))
        a.select(col("n").as("n_samples"),
          round(expr("cast(sv as double) / n / 1000.0"), 4).as("mean"),
          round(expr(
            """sqrt((cast(svv as double)
              |  - cast(sv as double) * cast(sv as double)
              |    / cast(n as double)) / (cast(n as double) - 1.0))
              |/ 1000.0""".stripMargin), 4).as("sigma"),
          round(expr(
            """90.0 / (6.0 * sqrt((cast(svv as double)
              |  - cast(sv as double) * cast(sv as double)
              |    / cast(n as double)) / (cast(n as double) - 1.0))
              |  / 1000.0)""".stripMargin), 4).as("cp"),
          round(expr(
            """least(95.0 - cast(sv as double) / n / 1000.0,
              |  cast(sv as double) / n / 1000.0 - 5.0)
              |/ (3.0 * sqrt((cast(svv as double)
              |  - cast(sv as double) * cast(sv as double)
              |    / cast(n as double)) / (cast(n as double) - 1.0))
              |  / 1000.0)""".stripMargin), 4).as("cpk"),
          expr("oos * 1000000 div n").as("oos_ppm"))
      },
      Some("""WITH v AS (SELECT floor(value * 1000)::BIGINT AS vm
             |  FROM events WHERE event_type = 'view'),
             |a AS (SELECT count(*)::BIGINT AS n, sum(vm)::BIGINT AS sv,
             |    sum(vm::HUGEINT * vm) AS svv,
             |    sum(CASE WHEN vm < 5000 OR vm > 95000 THEN 1 ELSE 0
             |      END)::BIGINT AS oos
             |  FROM v)
             |SELECT n AS n_samples,
             |  round(sv::DOUBLE / n / 1000.0, 4) AS mean,
             |  round(sqrt((svv::DOUBLE - sv::DOUBLE * sv::DOUBLE
             |      / n::DOUBLE) / (n::DOUBLE - 1.0)) / 1000.0, 4)
             |    AS sigma,
             |  round(90.0 / (6.0 * sqrt((svv::DOUBLE
             |    - sv::DOUBLE * sv::DOUBLE / n::DOUBLE)
             |    / (n::DOUBLE - 1.0)) / 1000.0), 4) AS cp,
             |  round(least(95.0 - sv::DOUBLE / n / 1000.0,
             |      sv::DOUBLE / n / 1000.0 - 5.0)
             |    / (3.0 * sqrt((svv::DOUBLE - sv::DOUBLE * sv::DOUBLE
             |        / n::DOUBLE) / (n::DOUBLE - 1.0)) / 1000.0), 4)
             |    AS cpk,
             |  (oos * 1000000 // n)::BIGINT AS oos_ppm
             |FROM a""".stripMargin)),

    // X̄-R control chart (Shewhart 1931), subgroup size 5: each
    // day's FIRST five 'view' readings form the rational subgroup;
    // the chart flags days whose subgroup mean leaves X̿ ± A₂·R̄ or
    // whose range exceeds D₄·R̄ (A₂ = 0.577, D₃ = 0, D₄ = 2.114 —
    // the standard n = 5 constants, embedded as identical literals).
    // Subgroup stats are exact 1e-3-grid integers (mean kept as the
    // ×5 SUM to avoid fractions); the two out-of-control counts
    // compare scaled integers against float limits computed
    // identically in both engines.
    QueryDef("q_xbar_r_chart",
      (s, d) => {
        val first5 = graft.sources.Tables.events(s, d)
          .filter(col("event_type") === "view")
          .select(to_date(col("ts")).as("day"),
            floor(col("value") * 1000).cast("long").as("vm"),
            col("ts"), col("event_id"))
          .withColumn("rn", row_number().over(
            Window.partitionBy(col("day"))
              .orderBy(col("ts"), col("event_id"))))
          .filter(col("rn") <= 5)
        val sub = first5.groupBy(col("day"))
          .agg(count(lit(1)).as("m"), sum(col("vm")).as("s5"),
            (max(col("vm")) - min(col("vm"))).as("r"))
          .filter(col("m") === 5)
        val g = broadcast(sub.agg(count(lit(1)).as("k"),
          sum(col("s5")).as("ss"), sum(col("r")).as("sr")))
        sub.crossJoin(g)
          .agg(max(col("k")).as("n_days"),
            max(round(expr("cast(ss as double) / k / 5.0 / 1000.0"), 4))
              .as("xbar_bar"),
            max(round(expr("cast(sr as double) / k / 1000.0"), 4))
              .as("r_bar"),
            max(round(expr(
              """(cast(ss as double) / k / 5.0
                | + 0.577 * cast(sr as double) / k) / 1000.0"""
                .stripMargin), 4)).as("ucl_x"),
            max(round(expr(
              """(cast(ss as double) / k / 5.0
                | - 0.577 * cast(sr as double) / k) / 1000.0"""
                .stripMargin), 4)).as("lcl_x"),
            max(round(expr("2.114 * cast(sr as double) / k / 1000.0"), 4))
              .as("ucl_r"),
            sum(expr(
              """CASE WHEN cast(s5 as double) / 5.0
                |    > cast(ss as double) / k / 5.0
                |      + 0.577 * cast(sr as double) / k
                |  OR cast(s5 as double) / 5.0
                |    < cast(ss as double) / k / 5.0
                |      - 0.577 * cast(sr as double) / k
                |THEN 1 ELSE 0 END""".stripMargin)).as("n_oc_mean"),
            sum(expr(
              """CASE WHEN cast(r as double)
                |  > 2.114 * cast(sr as double) / k
                |THEN 1 ELSE 0 END""".stripMargin)).as("n_oc_range"))
      },
      Some("""WITH f5 AS (SELECT ts::DATE AS day,
             |    floor(value * 1000)::BIGINT AS vm
             |  FROM events WHERE event_type = 'view'
             |  QUALIFY row_number() OVER (PARTITION BY ts::DATE
             |    ORDER BY ts, event_id) <= 5),
             |sub AS (SELECT day, count(*)::BIGINT AS m,
             |    sum(vm)::BIGINT AS s5,
             |    (max(vm) - min(vm))::BIGINT AS r
             |  FROM f5 GROUP BY 1 HAVING count(*) = 5),
             |g AS (SELECT count(*)::BIGINT AS k, sum(s5)::BIGINT AS ss,
             |    sum(r)::BIGINT AS sr FROM sub)
             |SELECT max(g.k)::BIGINT AS n_days,
             |  round(max(g.ss)::DOUBLE / max(g.k) / 5.0 / 1000.0, 4)
             |    AS xbar_bar,
             |  round(max(g.sr)::DOUBLE / max(g.k) / 1000.0, 4) AS r_bar,
             |  round((max(g.ss)::DOUBLE / max(g.k) / 5.0
             |    + 0.577 * max(g.sr)::DOUBLE / max(g.k)) / 1000.0, 4)
             |    AS ucl_x,
             |  round((max(g.ss)::DOUBLE / max(g.k) / 5.0
             |    - 0.577 * max(g.sr)::DOUBLE / max(g.k)) / 1000.0, 4)
             |    AS lcl_x,
             |  round(2.114 * max(g.sr)::DOUBLE / max(g.k) / 1000.0, 4)
             |    AS ucl_r,
             |  sum(CASE WHEN sub.s5::DOUBLE / 5.0
             |      > g.ss::DOUBLE / g.k / 5.0
             |        + 0.577 * g.sr::DOUBLE / g.k
             |    OR sub.s5::DOUBLE / 5.0
             |      < g.ss::DOUBLE / g.k / 5.0
             |        - 0.577 * g.sr::DOUBLE / g.k
             |    THEN 1 ELSE 0 END)::BIGINT AS n_oc_mean,
             |  sum(CASE WHEN sub.r::DOUBLE
             |      > 2.114 * g.sr::DOUBLE / g.k
             |    THEN 1 ELSE 0 END)::BIGINT AS n_oc_range
             |FROM sub, g""".stripMargin)),

    // Deming / total-least-squares regression (Deming 1943, λ = 1)
    // between the daily view-value and click-value channels — the
    // errors-in-BOTH-variables line ordinary OLS gets wrong when
    // both "sensors" are noisy; slope = (C_yy − C_xx +
    // √((C_yy−C_xx)² + 4C_xy²))/(2C_xy), the principal axis of the
    // 2×2 covariance. Centered moments off exact cents-grid sums;
    // OLS slope reported alongside for the attenuation contrast.
    QueryDef("q_deming_regression",
      (s, d) => {
        val daily = graft.sources.Tables.events(s, d)
          .groupBy(to_date(col("ts")).as("day"))
          .agg(
            (sum(when(col("event_type") === "view",
              col("value").cast("decimal(18,2)"))
              .otherwise(lit(0).cast("decimal(18,2)"))) * 100)
              .cast("long").as("x"),
            (sum(when(col("event_type") === "click",
              col("value").cast("decimal(18,2)"))
              .otherwise(lit(0).cast("decimal(18,2)"))) * 100)
              .cast("long").as("y"))
        val g = daily.agg(count(lit(1)).as("n"),
          sum(col("x")).as("sx"), sum(col("y")).as("sy"),
          sum(col("x").cast("decimal(38,0)") * col("x")).as("sxx"),
          sum(col("x").cast("decimal(38,0)") * col("y")).as("sxy"),
          sum(col("y").cast("decimal(38,0)") * col("y")).as("syy"))
        g.selectExpr("n",
            "cast(sxx as double) - cast(sx as double)" +
              " * cast(sx as double) / n AS cxx",
            "cast(sxy as double) - cast(sx as double)" +
              " * cast(sy as double) / n AS cxy",
            "cast(syy as double) - cast(sy as double)" +
              " * cast(sy as double) / n AS cyy",
            "cast(sx as double) / n AS mx",
            "cast(sy as double) / n AS my")
          .selectExpr("n AS n_days",
            """round(CASE WHEN cxy = 0.0 THEN NULL
              |ELSE (cyy - cxx + sqrt((cyy - cxx) * (cyy - cxx)
              |  + 4.0 * cxy * cxy)) / (2.0 * cxy) END, 6)
              |AS deming_slope""".stripMargin,
            """round(CASE WHEN cxy = 0.0 THEN NULL
              |ELSE (my - (cyy - cxx + sqrt((cyy - cxx) * (cyy - cxx)
              |  + 4.0 * cxy * cxy)) / (2.0 * cxy) * mx) / 100.0
              |END, 4) AS deming_intercept""".stripMargin,
            "round(CASE WHEN cxx = 0.0 THEN NULL" +
              " ELSE cxy / cxx END, 6) AS ols_slope")
      },
      Some("""WITH daily AS (SELECT ts::DATE AS day,
             |    (sum(CASE WHEN event_type = 'view'
             |        THEN CAST(value AS DECIMAL(18,2))
             |        ELSE CAST(0 AS DECIMAL(18,2)) END) * 100)::BIGINT
             |      AS x,
             |    (sum(CASE WHEN event_type = 'click'
             |        THEN CAST(value AS DECIMAL(18,2))
             |        ELSE CAST(0 AS DECIMAL(18,2)) END) * 100)::BIGINT
             |      AS y
             |  FROM events GROUP BY 1),
             |g AS (SELECT count(*)::BIGINT AS n, sum(x)::BIGINT AS sx,
             |    sum(y)::BIGINT AS sy, sum(x::HUGEINT * x) AS sxx,
             |    sum(x::HUGEINT * y) AS sxy, sum(y::HUGEINT * y) AS syy
             |  FROM daily),
             |c AS (SELECT n,
             |    sxx::DOUBLE - sx::DOUBLE * sx::DOUBLE / n AS cxx,
             |    sxy::DOUBLE - sx::DOUBLE * sy::DOUBLE / n AS cxy,
             |    syy::DOUBLE - sy::DOUBLE * sy::DOUBLE / n AS cyy,
             |    sx::DOUBLE / n AS mx, sy::DOUBLE / n AS my
             |  FROM g)
             |SELECT n AS n_days,
             |  round(CASE WHEN cxy = 0.0 THEN NULL
             |    ELSE (cyy - cxx + sqrt((cyy - cxx) * (cyy - cxx)
             |      + 4.0 * cxy * cxy)) / (2.0 * cxy) END, 6)
             |    AS deming_slope,
             |  round(CASE WHEN cxy = 0.0 THEN NULL
             |    ELSE (my - (cyy - cxx + sqrt((cyy - cxx) * (cyy - cxx)
             |      + 4.0 * cxy * cxy)) / (2.0 * cxy) * mx) / 100.0
             |    END, 4) AS deming_intercept,
             |  round(CASE WHEN cxx = 0.0 THEN NULL
             |    ELSE cxy / cxx END, 6) AS ols_slope
             |FROM c""".stripMargin)),

    // Bland–Altman agreement analysis (Bland & Altman 1986) between
    // the view and click channels as paired daily "measurements":
    // bias = mean difference, 95% limits of agreement = bias ±
    // 1.96·σ_d, and the count of days outside them — the method-
    // comparison readout that correlation famously fakes. The
    // per-day differences are EXACT cents integers; bias/σ_d are
    // floats off exact sums, and the outside-count compares each
    // integer d against the float limits with the identical
    // expression in both engines.
    QueryDef("q_bland_altman",
      (s, d) => {
        val daily = graft.sources.Tables.events(s, d)
          .groupBy(to_date(col("ts")).as("day"))
          .agg(
            (sum(when(col("event_type") === "view",
              col("value").cast("decimal(18,2)"))
              .otherwise(lit(0).cast("decimal(18,2)"))) * 100)
              .cast("long").as("x"),
            (sum(when(col("event_type") === "click",
              col("value").cast("decimal(18,2)"))
              .otherwise(lit(0).cast("decimal(18,2)"))) * 100)
              .cast("long").as("y"))
          .withColumn("dd", col("x") - col("y"))
        val g = broadcast(daily.agg(count(lit(1)).as("n"),
          sum(col("dd")).as("sd"),
          sum(col("dd").cast("decimal(38,0)") * col("dd")).as("sdd")))
        daily.crossJoin(g)
          .agg(max(col("n")).as("n_days"),
            max(round(expr("cast(sd as double) / n / 100.0"), 4))
              .as("bias"),
            max(round(expr(
              """(cast(sd as double) / n - 1.96 * sqrt(
                |  (cast(sdd as double) - cast(sd as double)
                |    * cast(sd as double) / cast(n as double))
                |  / (cast(n as double) - 1.0))) / 100.0"""
                .stripMargin), 4)).as("loa_low"),
            max(round(expr(
              """(cast(sd as double) / n + 1.96 * sqrt(
                |  (cast(sdd as double) - cast(sd as double)
                |    * cast(sd as double) / cast(n as double))
                |  / (cast(n as double) - 1.0))) / 100.0"""
                .stripMargin), 4)).as("loa_high"),
            sum(expr(
              """CASE WHEN cast(dd as double)
                |  > cast(sd as double) / n + 1.96 * sqrt(
                |    (cast(sdd as double) - cast(sd as double)
                |      * cast(sd as double) / cast(n as double))
                |    / (cast(n as double) - 1.0))
                |OR cast(dd as double)
                |  < cast(sd as double) / n - 1.96 * sqrt(
                |    (cast(sdd as double) - cast(sd as double)
                |      * cast(sd as double) / cast(n as double))
                |    / (cast(n as double) - 1.0))
                |THEN 1 ELSE 0 END""".stripMargin)).as("n_outside"))
      },
      Some("""WITH daily AS (SELECT ts::DATE AS day,
             |    (sum(CASE WHEN event_type = 'view'
             |        THEN CAST(value AS DECIMAL(18,2))
             |        ELSE CAST(0 AS DECIMAL(18,2)) END) * 100)::BIGINT
             |    - (sum(CASE WHEN event_type = 'click'
             |        THEN CAST(value AS DECIMAL(18,2))
             |        ELSE CAST(0 AS DECIMAL(18,2)) END) * 100)::BIGINT
             |      AS dd
             |  FROM events GROUP BY 1),
             |g AS (SELECT count(*)::BIGINT AS n, sum(dd)::BIGINT AS sd,
             |    sum(dd::HUGEINT * dd) AS sdd FROM daily)
             |SELECT max(g.n)::BIGINT AS n_days,
             |  round(max(g.sd)::DOUBLE / max(g.n) / 100.0, 4) AS bias,
             |  round((max(g.sd)::DOUBLE / max(g.n) - 1.96 * sqrt(
             |    (max(g.sdd)::DOUBLE - max(g.sd)::DOUBLE
             |      * max(g.sd)::DOUBLE / max(g.n)::DOUBLE)
             |    / (max(g.n)::DOUBLE - 1.0))) / 100.0, 4) AS loa_low,
             |  round((max(g.sd)::DOUBLE / max(g.n) + 1.96 * sqrt(
             |    (max(g.sdd)::DOUBLE - max(g.sd)::DOUBLE
             |      * max(g.sd)::DOUBLE / max(g.n)::DOUBLE)
             |    / (max(g.n)::DOUBLE - 1.0))) / 100.0, 4) AS loa_high,
             |  sum(CASE WHEN daily.dd::DOUBLE
             |      > g.sd::DOUBLE / g.n + 1.96 * sqrt(
             |        (g.sdd::DOUBLE - g.sd::DOUBLE * g.sd::DOUBLE
             |          / g.n::DOUBLE) / (g.n::DOUBLE - 1.0))
             |    OR daily.dd::DOUBLE
             |      < g.sd::DOUBLE / g.n - 1.96 * sqrt(
             |        (g.sdd::DOUBLE - g.sd::DOUBLE * g.sd::DOUBLE
             |          / g.n::DOUBLE) / (g.n::DOUBLE - 1.0))
             |    THEN 1 ELSE 0 END)::BIGINT AS n_outside
             |FROM daily, g""".stripMargin)),

    // Interrupted-time-series segmented fit: OLS lines on the daily
    // revenue before/after the calendar midpoint, read out as the
    // LEVEL JUMP at the break and the SLOPE CHANGE — the effect-size
    // view that complements q_chow_test's F-decision. Both segment
    // fits are closed-form over exact integer sums (the Chow
    // machinery); the two projections at the break point t₀ and the
    // slope difference are the only floats, in dollars and
    // dollars/day.
    QueryDef("q_its_segmented",
      (s, d) => {
        val daily = graft.sources.Tables.events(s, d)
          .groupBy(to_date(col("ts")).as("day"))
          .agg((sum(col("value").cast("decimal(18,2)")) * lit(100))
            .cast("long").as("y"))
          .withColumn("t",
            (row_number().over(Window.orderBy(col("day"))) - 1)
              .cast("long"))
        val n0 = broadcast(daily.agg(count(lit(1)).as("nn")))
        val marked = daily.crossJoin(n0)
          .withColumn("h", when(col("t") < expr("nn div 2"), 1)
            .otherwise(2))
        def sums(pred: org.apache.spark.sql.Column, tag: String) = Seq(
          sum(when(pred, lit(1L)).otherwise(0L)).as(s"n$tag"),
          sum(when(pred, col("t")).otherwise(0L)).as(s"st$tag"),
          sum(when(pred, col("y")).otherwise(0L)).as(s"sy$tag"),
          sum(when(pred, col("t") * col("t")).otherwise(0L)).as(s"stt$tag"),
          sum(when(pred, col("t").cast("decimal(38,0)") * col("y"))
            .otherwise(lit(0).cast("decimal(38,0)"))).as(s"sty$tag"))
        val allSums = sums(col("h") === 1, "1") ++ sums(col("h") === 2, "2")
        val agg = marked.agg(allSums.head, allSums.tail: _*)
        def b(tag: String) =
          s"""(cast(cast(n$tag as decimal(38,0)) * sty$tag
             |  - cast(st$tag as decimal(38,0)) * sy$tag as double)
             |/ cast(cast(n$tag as decimal(38,0)) * stt$tag
             |  - cast(st$tag as decimal(38,0)) * st$tag as double))"""
            .stripMargin
        def a(tag: String) =
          s"""((cast(sy$tag as double) - ${b(tag)}
             | * cast(st$tag as double)) / cast(n$tag as double))"""
            .stripMargin
        agg.selectExpr("n1 + n2 AS n_days", "n1 AS t0",
            s"round(${b("1")} / 100.0, 6) AS slope_pre",
            s"round(${b("2")} / 100.0, 6) AS slope_post",
            s"""round(((${a("2")} + ${b("2")} * n1)
               | - (${a("1")} + ${b("1")} * n1)) / 100.0, 4)
               |AS level_change""".stripMargin,
            s"round((${b("2")} - ${b("1")}) / 100.0, 6) AS slope_change")
      },
      Some {
        def b(tag: String) =
          s"""((n$tag::HUGEINT * sty$tag
             |  - st$tag::HUGEINT * sy$tag)::DOUBLE
             |/ (n$tag::HUGEINT * stt$tag
             |  - st$tag::HUGEINT * st$tag)::DOUBLE)""".stripMargin
        def a(tag: String) =
          s"""((sy$tag::DOUBLE - ${b(tag)} * st$tag::DOUBLE)
             | / n$tag::DOUBLE)""".stripMargin
        s"""WITH daily AS (SELECT day,
           |    row_number() OVER (ORDER BY day) - 1 AS t, y FROM (
           |    SELECT ts::DATE AS day,
           |      (sum(CAST(value AS DECIMAL(18,2))) * 100)::BIGINT AS y
           |    FROM events GROUP BY 1)),
           |n0 AS (SELECT count(*)::BIGINT AS nn FROM daily),
           |m AS (SELECT daily.t, daily.y,
           |    CASE WHEN daily.t < n0.nn // 2 THEN 1 ELSE 2 END AS h
           |  FROM daily, n0),
           |ag AS (SELECT
           |    sum(CASE WHEN h = 1 THEN 1 ELSE 0 END)::BIGINT AS n1,
           |    sum(CASE WHEN h = 1 THEN t ELSE 0 END)::BIGINT AS st1,
           |    sum(CASE WHEN h = 1 THEN y ELSE 0 END)::BIGINT AS sy1,
           |    sum(CASE WHEN h = 1 THEN t * t ELSE 0 END)::BIGINT
           |      AS stt1,
           |    sum(CASE WHEN h = 1 THEN t::HUGEINT * y
           |        ELSE 0::HUGEINT END) AS sty1,
           |    sum(CASE WHEN h = 2 THEN 1 ELSE 0 END)::BIGINT AS n2,
           |    sum(CASE WHEN h = 2 THEN t ELSE 0 END)::BIGINT AS st2,
           |    sum(CASE WHEN h = 2 THEN y ELSE 0 END)::BIGINT AS sy2,
           |    sum(CASE WHEN h = 2 THEN t * t ELSE 0 END)::BIGINT
           |      AS stt2,
           |    sum(CASE WHEN h = 2 THEN t::HUGEINT * y
           |        ELSE 0::HUGEINT END) AS sty2
           |  FROM m)
           |SELECT (n1 + n2)::BIGINT AS n_days, n1 AS t0,
           |  round(${b("1")} / 100.0, 6) AS slope_pre,
           |  round(${b("2")} / 100.0, 6) AS slope_post,
           |  round(((${a("2")} + ${b("2")} * n1)
           |    - (${a("1")} + ${b("1")} * n1)) / 100.0, 4)
           |    AS level_change,
           |  round((${b("2")} - ${b("1")}) / 100.0, 6) AS slope_change
           |FROM ag""".stripMargin
      }),

    // KPSS stationarity test (Kwiatkowski, Phillips, Schmidt & Shin
    // 1992), level version with a Bartlett long-run variance
    // (L = 4): the null here is STATIONARITY — the mirror image of
    // q_dickey_fuller's unit-root null, and reporting both is how
    // practitioners actually classify a series. Demeaned residuals
    // are 4-dp-exact decimals, their partial sums an exact decimal
    // window cumsum, and every squared/cross term is quantized
    // before summation; η and σ²_lr are the final floats.
    QueryDef("q_kpss",
      (s, d) => {
        val daily = graft.sources.Tables.events(s, d)
          .groupBy(to_date(col("ts")).as("day"))
          .agg((sum(col("value").cast("decimal(18,2)")) * lit(100))
            .cast("long").as("y"))
        val g = broadcast(daily.agg(count(lit(1)).as("n"),
          sum(col("y")).as("sy")))
        val e = daily.crossJoin(g)
          .withColumn("u", expr(
            """cast(round((cast(n as decimal(38,0)) * y - sy)
              |  / (cast(n as double) * 100.0), 4)
              |  as decimal(24,4))""".stripMargin))
          .withColumn("s", sum(col("u")).over(
            Window.orderBy(col("day"))
              .rowsBetween(Window.unboundedPreceding, 0))
            .cast("decimal(38,4)"))
        val lagCols = Seq(col("n"), col("u"), col("s")) ++
          (1 to 4).map(l => lag(col("u"), l)
            .over(Window.orderBy(col("day"))).as(s"u$l"))
        val lagged = e.select(lagCols: _*)
        val aggCols = Seq(
          max(col("n")).as("n"),
          sum(expr("cast(round(cast(s as double) * cast(s as double)," +
            " 4) as decimal(38,4))")).as("ss2"),
          sum(expr("cast(round(cast(u as double) * cast(u as double)," +
            " 8) as decimal(38,8))")).as("g0")) ++
          (1 to 4).map(l =>
            sum(expr(s"cast(round(cast(u as double)" +
              s" * cast(u$l as double), 8) as decimal(38,8))"))
              .as(s"g$l"))
        val a = lagged.agg(aggCols.head, aggCols.tail: _*)
        a.select(col("n").as("n_days"),
          round(expr(
            """(cast(g0 as double)
              | + 2.0 * (0.8 * coalesce(cast(g1 as double), 0.0)
              |   + 0.6 * coalesce(cast(g2 as double), 0.0)
              |   + 0.4 * coalesce(cast(g3 as double), 0.0)
              |   + 0.2 * coalesce(cast(g4 as double), 0.0)))
              |/ cast(n as double)""".stripMargin), 4).as("lr_var"),
          round(expr(
            """cast(ss2 as double) / (cast(n as double)
              | * cast(n as double))
              |/ ((cast(g0 as double)
              |  + 2.0 * (0.8 * coalesce(cast(g1 as double), 0.0)
              |    + 0.6 * coalesce(cast(g2 as double), 0.0)
              |    + 0.4 * coalesce(cast(g3 as double), 0.0)
              |    + 0.2 * coalesce(cast(g4 as double), 0.0)))
              | / cast(n as double))""".stripMargin), 4)
            .as("kpss_eta"))
      },
      Some("""WITH daily AS (SELECT ts::DATE AS day,
             |    (sum(CAST(value AS DECIMAL(18,2))) * 100)::BIGINT AS y
             |  FROM events GROUP BY 1),
             |g AS (SELECT count(*)::BIGINT AS n, sum(y)::BIGINT AS sy
             |  FROM daily),
             |e AS (SELECT daily.day, g.n,
             |    round((g.n::HUGEINT * daily.y - g.sy)
             |      / (g.n::DOUBLE * 100.0), 4)::DECIMAL(24,4) AS u
             |  FROM daily, g),
             |s AS (SELECT day, n, u,
             |    sum(u) OVER (ORDER BY day ROWS BETWEEN UNBOUNDED
             |      PRECEDING AND CURRENT ROW)::DECIMAL(38,4) AS s,
             |    lag(u, 1) OVER (ORDER BY day) AS u1,
             |    lag(u, 2) OVER (ORDER BY day) AS u2,
             |    lag(u, 3) OVER (ORDER BY day) AS u3,
             |    lag(u, 4) OVER (ORDER BY day) AS u4
             |  FROM e),
             |a AS (SELECT max(n)::BIGINT AS n,
             |    sum(round(s::DOUBLE * s::DOUBLE, 4)::DECIMAL(38,4))
             |      AS ss2,
             |    sum(round(u::DOUBLE * u::DOUBLE, 8)::DECIMAL(38,8))
             |      AS g0,
             |    sum(round(u::DOUBLE * u1::DOUBLE, 8)::DECIMAL(38,8))
             |      AS g1,
             |    sum(round(u::DOUBLE * u2::DOUBLE, 8)::DECIMAL(38,8))
             |      AS g2,
             |    sum(round(u::DOUBLE * u3::DOUBLE, 8)::DECIMAL(38,8))
             |      AS g3,
             |    sum(round(u::DOUBLE * u4::DOUBLE, 8)::DECIMAL(38,8))
             |      AS g4
             |  FROM s)
             |SELECT n AS n_days,
             |  round((g0::DOUBLE
             |    + 2.0 * (0.8 * coalesce(g1::DOUBLE, 0.0)
             |      + 0.6 * coalesce(g2::DOUBLE, 0.0)
             |      + 0.4 * coalesce(g3::DOUBLE, 0.0)
             |      + 0.2 * coalesce(g4::DOUBLE, 0.0)))
             |    / n::DOUBLE, 4) AS lr_var,
             |  round(ss2::DOUBLE / (n::DOUBLE * n::DOUBLE)
             |    / ((g0::DOUBLE
             |      + 2.0 * (0.8 * coalesce(g1::DOUBLE, 0.0)
             |        + 0.6 * coalesce(g2::DOUBLE, 0.0)
             |        + 0.4 * coalesce(g3::DOUBLE, 0.0)
             |        + 0.2 * coalesce(g4::DOUBLE, 0.0)))
             |      / n::DOUBLE), 4) AS kpss_eta
             |FROM a""".stripMargin)),

    // ARCH LM test (Engle 1982): do the daily-revenue trend
    // residuals show VOLATILITY CLUSTERING — big shocks following
    // big shocks? Squared residuals h_t (exact decimals off the
    // scaled-integer residual identity) regress on h_{t−1}; LM =
    // (T−1)·R² is χ²(1) under homoskedasticity. The companion to
    // q_breusch_pagan (variance vs TIME) and q_durbin_watson
    // (serial correlation in the MEAN).
    QueryDef("q_arch_lm",
      (s, d) => {
        val daily = graft.sources.Tables.events(s, d)
          .groupBy(to_date(col("ts")).as("day"))
          .agg((sum(col("value").cast("decimal(18,2)")) * lit(100))
            .cast("long").as("y"))
          .withColumn("t",
            (row_number().over(Window.orderBy(col("day"))) - 1)
              .cast("long"))
        val g = broadcast(daily.agg(count(lit(1)).as("n"),
          sum(col("t")).as("st"), sum(col("y")).as("sy"),
          sum(col("t") * col("t")).as("stt"),
          sum(col("t") * col("y")).as("sty")))
        val h = daily.crossJoin(g)
          .withColumn("num", expr("n * sty - st * sy"))
          .withColumn("den", expr("n * stt - st * st"))
          .withColumn("u", expr(
            """cast(round(
              |  cast(cast(n as decimal(38,0)) * den * y
              |       - (cast(den as decimal(38,0)) * sy
              |          - cast(num as decimal(38,0)) * st)
              |       - cast(n as decimal(38,0)) * num * t as double)
              |  / (cast(n as double) * cast(den as double)) / 100.0,
              |  4) as decimal(24,4))""".stripMargin))
          .withColumn("h", expr("cast(u * u as decimal(38,8))"))
          .withColumn("hp", lag(col("h"), 1).over(
            Window.orderBy(col("day"))))
        val a = h.filter(col("hp").isNotNull)
          .agg(count(lit(1)).as("tt"),
            sum(col("h")).as("sh"), sum(col("hp")).as("shp"),
            sum(expr("cast(round(cast(h as double)" +
              " * cast(hp as double), 6) as decimal(38,6))"))
              .as("shh"),
            sum(expr("cast(round(cast(h as double)" +
              " * cast(h as double), 6) as decimal(38,6))")).as("sh2"),
            sum(expr("cast(round(cast(hp as double)" +
              " * cast(hp as double), 6) as decimal(38,6))"))
              .as("shp2"))
        a.select(col("tt").cast("long").as("n_obs"),
          round(expr(
            """(cast(tt as double) * cast(shh as double)
              | - cast(sh as double) * cast(shp as double))
              |/ sqrt((cast(tt as double) * cast(sh2 as double)
              |   - cast(sh as double) * cast(sh as double))
              | * (cast(tt as double) * cast(shp2 as double)
              |   - cast(shp as double) * cast(shp as double)))"""
              .stripMargin), 6).as("rho1"),
          round(expr(
            """cast(tt as double) * pow(
              |(cast(tt as double) * cast(shh as double)
              | - cast(sh as double) * cast(shp as double))
              |/ sqrt((cast(tt as double) * cast(sh2 as double)
              |   - cast(sh as double) * cast(sh as double))
              | * (cast(tt as double) * cast(shp2 as double)
              |   - cast(shp as double) * cast(shp as double))), 2.0)"""
              .stripMargin), 4).as("lm_stat"))
      },
      Some("""WITH daily AS (SELECT day,
             |    row_number() OVER (ORDER BY day) - 1 AS t, y FROM (
             |    SELECT ts::DATE AS day,
             |      (sum(CAST(value AS DECIMAL(18,2))) * 100)::BIGINT AS y
             |    FROM events GROUP BY 1)),
             |g AS (SELECT count(*)::BIGINT AS n, sum(t)::BIGINT AS st,
             |    sum(y)::BIGINT AS sy, sum(t * t)::BIGINT AS stt,
             |    sum(t * y)::BIGINT AS sty FROM daily),
             |e AS (SELECT daily.day,
             |    round((g.n::HUGEINT * (g.n * g.stt - g.st * g.st)
             |        * daily.y
             |      - ((g.n * g.stt - g.st * g.st)::HUGEINT * g.sy
             |         - (g.n * g.sty - g.st * g.sy)::HUGEINT * g.st)
             |      - g.n::HUGEINT * (g.n * g.sty - g.st * g.sy)
             |        * daily.t)::DOUBLE
             |      / (g.n::DOUBLE * (g.n * g.stt - g.st * g.st)::DOUBLE)
             |      / 100.0, 4)::DECIMAL(24,4) AS u
             |  FROM daily, g),
             |hh AS (SELECT day, (u * u)::DECIMAL(38,8) AS h FROM e),
             |l AS (SELECT h, lag(h) OVER (ORDER BY day) AS hp FROM hh),
             |a AS (SELECT count(*)::BIGINT AS tt, sum(h) AS sh,
             |    sum(hp) AS shp,
             |    sum(round(h::DOUBLE * hp::DOUBLE, 6)::DECIMAL(38,6))
             |      AS shh,
             |    sum(round(h::DOUBLE * h::DOUBLE, 6)::DECIMAL(38,6))
             |      AS sh2,
             |    sum(round(hp::DOUBLE * hp::DOUBLE, 6)::DECIMAL(38,6))
             |      AS shp2
             |  FROM l WHERE hp IS NOT NULL)
             |SELECT tt AS n_obs,
             |  round((tt::DOUBLE * shh::DOUBLE
             |      - sh::DOUBLE * shp::DOUBLE)
             |    / sqrt((tt::DOUBLE * sh2::DOUBLE
             |        - sh::DOUBLE * sh::DOUBLE)
             |      * (tt::DOUBLE * shp2::DOUBLE
             |        - shp::DOUBLE * shp::DOUBLE)), 6) AS rho1,
             |  round(tt::DOUBLE * pow(
             |    (tt::DOUBLE * shh::DOUBLE - sh::DOUBLE * shp::DOUBLE)
             |    / sqrt((tt::DOUBLE * sh2::DOUBLE
             |        - sh::DOUBLE * sh::DOUBLE)
             |      * (tt::DOUBLE * shp2::DOUBLE
             |        - shp::DOUBLE * shp::DOUBLE)), 2.0), 4)
             |    AS lm_stat
             |FROM a""".stripMargin)),

    // Cochrane–Orcutt AR(1) correction (Cochrane & Orcutt 1949) for
    // the daily revenue trend: estimate ρ from the EXACT scaled
    // residual lag ratio (the n·den scale cancels in Σe_t·e_{t−1}/
    // Σe²_{t−1}, so ρ is float-division-once exact), quasi-difference
    // the data (y* = y − ρ·y₋₁, t* = t − ρ(t−1)) and refit — the
    // serially-correlated-errors slope the naive OLS line misstates.
    // Quasi-differenced terms are 6-dp-quantized decimals; digest-
    // sized throughout.
    QueryDef("q_cochrane_orcutt",
      (s, d) => {
        val daily = graft.sources.Tables.events(s, d)
          .groupBy(to_date(col("ts")).as("day"))
          .agg((sum(col("value").cast("decimal(18,2)")) * lit(100))
            .cast("long").as("y"))
          .withColumn("t",
            (row_number().over(Window.orderBy(col("day"))) - 1)
              .cast("long"))
        val g = broadcast(daily.agg(count(lit(1)).as("n"),
          sum(col("t")).as("st"), sum(col("y")).as("sy"),
          sum(col("t") * col("t")).as("stt"),
          sum(col("t") * col("y")).as("sty")))
        val e = daily.crossJoin(g)
          .withColumn("num", expr("n * sty - st * sy"))
          .withColumn("den", expr("n * stt - st * st"))
          .withColumn("ee", expr(
            """cast(n as decimal(38,0)) * den * y
              | - (cast(den as decimal(38,0)) * sy
              |    - cast(num as decimal(38,0)) * st)
              | - cast(n as decimal(38,0)) * num * t""".stripMargin))
          .withColumn("ep", lag(col("ee"), 1).over(
            Window.orderBy(col("day"))))
          .withColumn("yp", lag(col("y"), 1).over(
            Window.orderBy(col("day"))))
        val rho = broadcast(e.filter(col("ep").isNotNull)
          .agg(
            sum(expr("cast(round(cast(ee as double) / cast(den as" +
              " double) * (cast(ep as double) / cast(den as double))," +
              " 4) as decimal(38,4))")).as("sep"),
            sum(expr("cast(round(cast(ep as double) / cast(den as" +
              " double) * (cast(ep as double) / cast(den as double))," +
              " 4) as decimal(38,4))")).as("spp"))
          .select(expr(
            """CASE WHEN cast(spp as double) = 0.0 THEN NULL
              |ELSE cast(sep as double) / cast(spp as double) END"""
              .stripMargin).as("rho")))
        val q = e.filter(col("yp").isNotNull).crossJoin(rho)
          .select(col("n"),
            expr("cast(round(cast(t as double)" +
              " - rho * (t - 1), 6) as decimal(28,6))").as("xs"),
            expr("cast(round((cast(y as double)" +
              " - rho * yp) / 100.0, 6) as decimal(28,6))").as("ys"),
            col("rho"),
            expr("cast(num as double) / cast(den as double) / 100.0")
              .as("b_ols"))
        q.agg(max(col("n")).as("n"), max(col("rho")).as("rho"),
            max(col("b_ols")).as("b_ols"), count(lit(1)).as("m"),
            sum(col("xs")).as("sx"), sum(col("ys")).as("sy2"),
            sum(expr("cast(round(cast(xs as double) * cast(xs as" +
              " double), 6) as decimal(38,6))")).as("sxx"),
            sum(expr("cast(round(cast(xs as double) * cast(ys as" +
              " double), 6) as decimal(38,6))")).as("sxy"))
          .select(col("n").as("n_days"), round(col("rho"), 6).as("rho"),
            round(col("b_ols"), 6).as("slope_ols"),
            round(expr(
              """(cast(m as double) * cast(sxy as double)
                | - cast(sx as double) * cast(sy2 as double))
                |/ (cast(m as double) * cast(sxx as double)
                | - cast(sx as double) * cast(sx as double))"""
                .stripMargin), 6).as("slope_co"))
      },
      Some("""WITH daily AS (SELECT day,
             |    row_number() OVER (ORDER BY day) - 1 AS t, y FROM (
             |    SELECT ts::DATE AS day,
             |      (sum(CAST(value AS DECIMAL(18,2))) * 100)::BIGINT AS y
             |    FROM events GROUP BY 1)),
             |g AS (SELECT count(*)::BIGINT AS n, sum(t)::BIGINT AS st,
             |    sum(y)::BIGINT AS sy, sum(t * t)::BIGINT AS stt,
             |    sum(t * y)::BIGINT AS sty FROM daily),
             |e AS (SELECT daily.day, daily.t, daily.y, g.n,
             |    g.n * g.sty - g.st * g.sy AS num,
             |    g.n * g.stt - g.st * g.st AS den,
             |    (g.n::HUGEINT * (g.n * g.stt - g.st * g.st) * daily.y
             |      - ((g.n * g.stt - g.st * g.st)::HUGEINT * g.sy
             |         - (g.n * g.sty - g.st * g.sy)::HUGEINT * g.st)
             |      - g.n::HUGEINT * (g.n * g.sty - g.st * g.sy)
             |        * daily.t) AS ee
             |  FROM daily, g),
             |l AS (SELECT day, t, y, n, num, den, ee,
             |    lag(ee) OVER (ORDER BY day) AS ep,
             |    lag(y) OVER (ORDER BY day) AS yp
             |  FROM e),
             |rho AS (SELECT CASE WHEN sum(round(ep::DOUBLE
             |      / den::DOUBLE * (ep::DOUBLE / den::DOUBLE), 4)
             |      ::DECIMAL(38,4))::DOUBLE = 0.0 THEN NULL
             |    ELSE sum(round(ee::DOUBLE / den::DOUBLE
             |      * (ep::DOUBLE / den::DOUBLE), 4)
             |      ::DECIMAL(38,4))::DOUBLE
             |    / sum(round(ep::DOUBLE / den::DOUBLE
             |      * (ep::DOUBLE / den::DOUBLE), 4)
             |      ::DECIMAL(38,4))::DOUBLE END AS rho
             |  FROM l WHERE ep IS NOT NULL),
             |q AS (SELECT l.n, rho.rho,
             |    l.num::DOUBLE / l.den::DOUBLE / 100.0 AS b_ols,
             |    round(l.t::DOUBLE - rho.rho * (l.t - 1), 6)
             |      ::DECIMAL(28,6) AS xs,
             |    round((l.y::DOUBLE - rho.rho * l.yp) / 100.0, 6)
             |      ::DECIMAL(28,6) AS ys
             |  FROM l, rho WHERE l.yp IS NOT NULL),
             |a AS (SELECT max(n)::BIGINT AS n, max(rho) AS rho,
             |    max(b_ols) AS b_ols, count(*)::BIGINT AS m,
             |    sum(xs) AS sx, sum(ys) AS sy2,
             |    sum(round(xs::DOUBLE * xs::DOUBLE, 6)::DECIMAL(38,6))
             |      AS sxx,
             |    sum(round(xs::DOUBLE * ys::DOUBLE, 6)::DECIMAL(38,6))
             |      AS sxy
             |  FROM q)
             |SELECT n AS n_days, round(rho, 6) AS rho,
             |  round(b_ols, 6) AS slope_ols,
             |  round((m::DOUBLE * sxy::DOUBLE
             |      - sx::DOUBLE * sy2::DOUBLE)
             |    / (m::DOUBLE * sxx::DOUBLE - sx::DOUBLE * sx::DOUBLE),
             |    6) AS slope_co
             |FROM a""".stripMargin)),

    // l-diversity audit (Machanavajjhala et al. 2006) — the
    // companion to pipe_kanonymity: a k-anonymous class is still
    // unsafe if everyone in it shares the same SENSITIVE value.
    // Quasi-identifiers are (mktsegment, nationkey); the sensitive
    // attribute is the $1000 balance band. Per segment: classes,
    // classes failing l = 2 and l = 3 (distinct sensitive values),
    // rows in l<2 classes, and the worst class's diversity. Two
    // reducing shuffles, all-integer.
    QueryDef("pipe_l_diversity",
      (s, d) => {
        val c = graft.sources.Tables.load(s, d, "customer")
          .select(col("c_mktsegment"), col("c_nationkey"),
            floor(col("c_acctbal") / lit(1000.0)).cast("long")
              .as("band"))
        c.groupBy(col("c_mktsegment"), col("c_nationkey"))
          .agg(count(lit(1)).as("n"),
            countDistinct(col("band")).as("l"))
          .groupBy(col("c_mktsegment"))
          .agg(count(lit(1)).as("n_classes"),
            sum(when(col("l") < 2, 1L).otherwise(0L)).as("n_below_l2"),
            sum(when(col("l") < 3, 1L).otherwise(0L)).as("n_below_l3"),
            sum(when(col("l") < 2, col("n")).otherwise(lit(0L)))
              .as("rows_at_risk"),
            min(col("l")).as("min_l"))
          .orderBy(col("c_mktsegment"))
      },
      Some("""WITH c AS (SELECT c_mktsegment, c_nationkey,
             |    floor(c_acctbal / 1000.0)::BIGINT AS band
             |  FROM customer),
             |cls AS (SELECT c_mktsegment, c_nationkey,
             |    count(*)::BIGINT AS n,
             |    count(DISTINCT band)::BIGINT AS l
             |  FROM c GROUP BY 1, 2)
             |SELECT c_mktsegment, count(*)::BIGINT AS n_classes,
             |  sum(CASE WHEN l < 2 THEN 1 ELSE 0 END)::BIGINT
             |    AS n_below_l2,
             |  sum(CASE WHEN l < 3 THEN 1 ELSE 0 END)::BIGINT
             |    AS n_below_l3,
             |  sum(CASE WHEN l < 2 THEN n ELSE 0 END)::BIGINT
             |    AS rows_at_risk,
             |  min(l)::BIGINT AS min_l
             |FROM cls GROUP BY 1 ORDER BY 1""".stripMargin)),

    // t-closeness audit (Li, Li & Venkatasubramanian 2007) — the
    // third rung of the privacy ladder: even a diverse class leaks
    // if its sensitive DISTRIBUTION differs from the corpus's. Per
    // (mktsegment, nationkey) class, the ordered-category EMD
    // between the class's balance-band distribution and the global
    // one, normalized by (B−1); per segment, the worst EMD and the
    // count of classes past t = 0.2. The class×band spine is
    // digest-sized (bands are value-range-bounded); per-band terms
    // quantize to 9-dp decimals before the |cumdiff| fold.
    QueryDef("pipe_t_closeness",
      (s, d) => {
        val c = graft.sources.Tables.load(s, d, "customer")
          .select(col("c_mktsegment"), col("c_nationkey"),
            floor(col("c_acctbal") / lit(1000.0)).cast("long")
              .as("band"))
        val cb = c.groupBy(col("c_mktsegment"), col("c_nationkey"),
          col("band")).agg(count(lit(1)).as("cnt"))
        val cls = cb.groupBy(col("c_mktsegment"), col("c_nationkey"))
          .agg(sum(col("cnt")).as("ncls"))
        val gb = cb.groupBy(col("band").as("gband"))
          .agg(sum(col("cnt")).as("gcnt"))
        val n0 = broadcast(gb.agg(sum(col("gcnt")).as("n"),
          count(lit(1)).as("nb")))
        val cb2 = cb.select(col("c_mktsegment").as("ms2"),
          col("c_nationkey").as("nk2"), col("band").as("band2"),
          col("cnt"))
        val spine = cls.crossJoin(broadcast(gb)).crossJoin(n0)
          .join(cb2,
            col("ms2") === col("c_mktsegment") &&
              col("nk2") === col("c_nationkey") &&
              col("band2") === col("gband"), "left")
          .select(col("c_mktsegment"), col("c_nationkey"),
            col("gband"), col("ncls"), col("n"), col("nb"),
            coalesce(col("cnt"), lit(0L)).as("cnt"), col("gcnt"))
          .withColumn("term", expr(
            """cast(round(cast(cnt as double) / ncls
              |  - cast(gcnt as double) / n, 9) as decimal(28,9))"""
              .stripMargin))
          .withColumn("cum", sum(col("term")).over(
            Window.partitionBy(col("c_mktsegment"), col("c_nationkey"))
              .orderBy(col("gband"))
              .rowsBetween(Window.unboundedPreceding, 0)))
        val emd = spine
          .groupBy(col("c_mktsegment"), col("c_nationkey"))
          .agg(max(col("nb")).as("nb"),
            sum(abs(col("cum"))).as("sabs"))
          .withColumn("emd", round(
            col("sabs").cast("double") /
              (col("nb").cast("double") - 1.0), 6))
        emd.groupBy(col("c_mktsegment"))
          .agg(count(lit(1)).as("n_classes"),
            round(max(col("emd")), 6).as("max_emd"),
            sum(when(col("emd") > 0.2, 1L).otherwise(0L))
              .as("n_over_t"))
          .orderBy(col("c_mktsegment"))
      },
      Some("""WITH c AS (SELECT c_mktsegment, c_nationkey,
             |    floor(c_acctbal / 1000.0)::BIGINT AS band
             |  FROM customer),
             |cb AS (SELECT c_mktsegment, c_nationkey, band,
             |    count(*)::BIGINT AS cnt FROM c GROUP BY 1, 2, 3),
             |cls AS (SELECT c_mktsegment, c_nationkey,
             |    sum(cnt)::BIGINT AS ncls FROM cb GROUP BY 1, 2),
             |gb AS (SELECT band AS gband, sum(cnt)::BIGINT AS gcnt
             |  FROM cb GROUP BY 1),
             |n0 AS (SELECT sum(gcnt)::BIGINT AS n,
             |    count(*)::BIGINT AS nb FROM gb),
             |sp AS (SELECT cls.c_mktsegment, cls.c_nationkey,
             |    gb.gband, cls.ncls, n0.n, n0.nb,
             |    coalesce(cb.cnt, 0)::BIGINT AS cnt, gb.gcnt
             |  FROM cls CROSS JOIN gb CROSS JOIN n0
             |  LEFT JOIN cb ON cb.c_mktsegment = cls.c_mktsegment
             |    AND cb.c_nationkey = cls.c_nationkey
             |    AND cb.band = gb.gband),
             |t AS (SELECT c_mktsegment, c_nationkey, gband, nb,
             |    sum(round(cnt::DOUBLE / ncls - gcnt::DOUBLE / n, 9)
             |      ::DECIMAL(28,9)) OVER (
             |      PARTITION BY c_mktsegment, c_nationkey
             |      ORDER BY gband ROWS BETWEEN UNBOUNDED PRECEDING
             |      AND CURRENT ROW) AS cum
             |  FROM sp),
             |emd AS (SELECT c_mktsegment, c_nationkey,
             |    round(sum(abs(cum))::DOUBLE
             |      / (max(nb)::DOUBLE - 1.0), 6) AS emd
             |  FROM t GROUP BY 1, 2)
             |SELECT c_mktsegment, count(*)::BIGINT AS n_classes,
             |  round(max(emd), 6) AS max_emd,
             |  sum(CASE WHEN emd > 0.2 THEN 1 ELSE 0 END)::BIGINT
             |    AS n_over_t
             |FROM emd GROUP BY 1 ORDER BY 1""".stripMargin)),

    // ABC inventory classification (Pareto 1896 via Dickie 1951):
    // parts ranked by total extended-price revenue; class A carries
    // the first 80% of cumulative revenue, B the next 15%, C the
    // tail. Classification is an EXACT integer comparison
    // (cum_cents·100 vs share·total_cents — no float boundary), with
    // ties broken by part key in the revenue ranking. Reported per
    // class: part count, revenue share in ppm, and the part-count
    // share — the 80/20 readout itself.
    QueryDef("q_abc_analysis",
      (s, d) => {
        val pr = graft.sources.Tables.load(s, d, "lineitem")
          .groupBy(col("l_partkey"))
          .agg((sum(col("l_extendedprice").cast("decimal(18,2)")) * 100)
            .cast("long").as("rc"))
        // r17 window audit: the cumulative revenue ran through ONE
        // partition (Window.orderBy with no partition spec) over the
        // PART-grain digest, which is scale-proportional — measured
        // 2k rows at sf0.01 → 20k at sf0.1 (×10, data-sized). The
        // distributed prefix sum (range partition + local prefix +
        // broadcast range offsets) computes the identical column with
        // no task holding more than its key range.
        val ranked = graft.analytics.Ranks.withRunningSum(
          pr, "rc", "cum", Seq("rc" -> true, "l_partkey" -> false))
        val tot = broadcast(pr.agg(sum(col("rc")).as("tc"),
          count(lit(1)).as("np")))
        ranked.crossJoin(tot)
          .withColumn("cls",
            when(col("cum") * 100 <= col("tc") * 80, "A")
              .when(col("cum") * 100 <= col("tc") * 95, "B")
              .otherwise("C"))
          .groupBy(col("cls"))
          .agg(count(lit(1)).as("n_parts"),
            sum(col("rc")).as("rev"),
            max(col("tc")).as("tc"), max(col("np")).as("np"))
          .select(col("cls").as("abc_class"), col("n_parts"),
            expr("rev * 1000000 div tc").as("revenue_ppm"),
            expr("n_parts * 1000000 div np").as("parts_ppm"))
          .orderBy(col("abc_class"))
      },
      Some("""WITH pr AS (SELECT l_partkey,
             |    (sum(CAST(l_extendedprice AS DECIMAL(18,2))) * 100)
             |      ::BIGINT AS rc
             |  FROM lineitem GROUP BY 1),
             |rk AS (SELECT l_partkey, rc, sum(rc) OVER (
             |    ORDER BY rc DESC, l_partkey ROWS BETWEEN UNBOUNDED
             |    PRECEDING AND CURRENT ROW)::BIGINT AS cum
             |  FROM pr),
             |tot AS (SELECT sum(rc)::BIGINT AS tc,
             |    count(*)::BIGINT AS np FROM pr),
             |cl AS (SELECT CASE WHEN rk.cum * 100 <= tot.tc * 80
             |      THEN 'A'
             |    WHEN rk.cum * 100 <= tot.tc * 95 THEN 'B'
             |    ELSE 'C' END AS abc_class, rk.rc, tot.tc, tot.np
             |  FROM rk, tot)
             |SELECT abc_class, count(*)::BIGINT AS n_parts,
             |  (sum(rc) * 1000000 // max(tc))::BIGINT AS revenue_ppm,
             |  (count(*) * 1000000 // max(np))::BIGINT AS parts_ppm
             |FROM cl GROUP BY 1 ORDER BY abc_class""".stripMargin)),

    // Bowker symmetry test (Bowker 1948) on the monetary-tier
    // migration matrix — "do tier upgrades balance downgrades?", the
    // k×k generalization of McNemar. Off-diagonal cell pairs from
    // the SAME per-period ntile construction as q_rfm_migration
    // (users present in both halves); χ² = Σ_{i<j}(n_ij − n_ji)²/
    // (n_ij + n_ji) over pairs with any traffic, df = the count of
    // such pairs. Integer cells; one float fold.
    QueryDef("q_bowker_symmetry",
      (s, d) => {
        val ev = graft.sources.Tables.events(s, d)
        val mid = broadcast(ev.agg(min(to_date(col("ts"))).as("d0"),
            max(to_date(col("ts"))).as("d1"))
          .select(expr("date_add(d0, cast(datediff(d1, d0) div 2" +
            " as int))").as("m")))
        val spend = ev.crossJoin(mid)
          .groupBy(col("user_id"),
            (to_date(col("ts")) < col("m")).as("p1"))
          .agg(sum(floor(col("value") * 100).cast("long")).as("cents"))
        // r17 window audit: same unpartitioned-user-ntile fix as
        // q_rfm_migration (Ranks.withNtile boundary digest)
        def tiers(flag: Boolean, out: String) = graft.analytics.Ranks
          .withNtile(spend.filter(col("p1") === flag), 5, out,
            Seq("cents" -> true, "user_id" -> false))
          .select(col("user_id"), col(out))
        val cells = tiers(true, "ti").join(tiers(false, "tj"),
            Seq("user_id"))
          .groupBy(col("ti"), col("tj"))
          .agg(count(lit(1)).as("c"))
        val pairs = cells.filter(col("ti") < col("tj"))
          .select(col("ti"), col("tj"), col("c").as("cij"))
          .join(cells.filter(col("ti") > col("tj"))
            .select(col("tj").as("ri"), col("ti").as("rj"),
              col("c").as("cji")),
            col("ti") === col("ri") && col("tj") === col("rj"),
            "full_outer")
          .select(coalesce(col("cij"), lit(0L)).as("cij"),
            coalesce(col("cji"), lit(0L)).as("cji"))
        pairs.agg(count(lit(1)).as("df"),
            sum(col("cij") + col("cji")).as("n_movers"),
            sum(expr(
              """cast(round(cast((cij - cji) * (cij - cji) as double)
                | / (cij + cji), 9) as decimal(38,9))""".stripMargin))
              .as("chi"))
          .select(col("df").cast("long").as("df"), col("n_movers"),
            round(col("chi").cast("double"), 4).as("bowker_chi2"))
      },
      Some("""WITH b AS (SELECT min(ts::DATE) AS d0, max(ts::DATE) AS d1
             |  FROM events),
             |mid AS (SELECT d0 + (datediff('day', d0, d1) // 2)::INT
             |      AS m FROM b),
             |spend AS (SELECT user_id, ts::DATE < mid.m AS p1,
             |    sum(floor(value * 100)::BIGINT)::BIGINT AS cents
             |  FROM events, mid GROUP BY 1, 2),
             |t1 AS (SELECT user_id, ntile(5) OVER (
             |    ORDER BY cents DESC, user_id) AS ti
             |  FROM spend WHERE p1),
             |t2 AS (SELECT user_id, ntile(5) OVER (
             |    ORDER BY cents DESC, user_id) AS tj
             |  FROM spend WHERE NOT p1),
             |cells AS (SELECT t1.ti, t2.tj, count(*)::BIGINT AS c
             |  FROM t1 JOIN t2 USING (user_id) GROUP BY 1, 2),
             |pairs AS (SELECT coalesce(u.c, 0)::BIGINT AS cij,
             |    coalesce(l.c, 0)::BIGINT AS cji
             |  FROM (SELECT * FROM cells WHERE ti < tj) u
             |  FULL OUTER JOIN (SELECT tj AS ti, ti AS tj, c
             |    FROM cells WHERE ti > tj) l
             |  USING (ti, tj))
             |SELECT count(*)::BIGINT AS df,
             |  sum(cij + cji)::BIGINT AS n_movers,
             |  round(sum(round(((cij - cji) * (cij - cji))::DOUBLE
             |    / (cij + cji), 9)::DECIMAL(38,9))::DOUBLE, 4)
             |    AS bowker_chi2
             |FROM pairs""".stripMargin))
  )
}
