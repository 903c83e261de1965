package graft.queries

import graft.GraftSpec
import org.apache.spark.sql.functions._

/** Laws for the round-13 extension kernels. Each law pins a
  * closed-form fixture outcome that a same-formula-on-both-engines
  * slip could not fake (an alternating series maxes the run count, a
  * period-7 series zeroes the seasonal-naive errors, identical
  * per-group multisets zero Brown–Forsythe's F, one event per
  * hour-of-week cell zeroes the quadrat χ², a perfectly separating
  * score gives AP = 1, a duplicate-vector list gives ILD = 0), plus
  * range sanity on the real sf0.001 tables.
  */
class R15QueriesSpec extends GraftSpec {

  private def byName(name: String) =
    R15Queries.defs.find(_.name == name).get.fn

  private def eventsDir(rows: Seq[(Long, Long, String, Double)]): String = {
    import spark.implicits._
    val dir = tempDir("r15ev").toString
    rows.zipWithIndex
      .map { case ((us, uid, et, v), i) => (i.toLong, us, uid, et, v, "{}") }
      .toDF("event_id", "__us", "user_id", "event_type", "value", "props")
      .withColumn("ts", timestamp_micros(col("__us"))).drop("__us")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    dir
  }

  private val day0 = 1704067200000000L // 2024-01-01 (Mon) UTC micros
  private val dayUs = 86400000000L
  private val hourUs = 3600000000L

  test("q_runs_test_daily: distinct alternating lows/highs count " +
    "every block and drop the median day") {
    // days: 1,10,2,20,3,30,4,40,5,50 — lower median is 5 (dropped);
    // signs b a b a b a b a a -> 8 blocks, 5 above / 4 below
    val vals = Seq(1.0, 10.0, 2.0, 20.0, 3.0, 30.0, 4.0, 40.0, 5.0, 50.0)
    val rows = vals.zipWithIndex.map { case (v, i) =>
      (day0 + i * dayUs, i.toLong, "view", v) }
    val out = byName("q_runs_test_daily")(spark, eventsDir(rows)).head()
    assert(out.getAs[Long]("n_above") === 5L)
    assert(out.getAs[Long]("n_below") === 4L)
    assert(out.getAs[Long]("n_runs") === 8L)
    assert(out.getAs[Double]("z") > 0.0)
  }

  test("q_brown_forsythe: identical per-dow multisets give F ~ 0, " +
    "and zero within-group spread gives a NULL F") {
    // weeks 1/2/3 at 10/20/60: every dow group is {10, 20, 60} — the
    // same |z| multiset {2000, 0, 8000} half-cents — so the between-
    // group numerator vanishes (up to the 6-dp term quantization)
    // while within-group spread keeps the denominator alive
    val rows = (0 until 21).map { i =>
      val v = if (i < 7) 10.0 else if (i < 14) 20.0 else 60.0
      (day0 + i * dayUs, i.toLong, "view", v) }
    val out = byName("q_brown_forsythe")(spark, eventsDir(rows)).head()
    assert(out.getAs[Long]("k_groups") === 7L)
    assert(out.getAs[Long]("n_days") === 21L)
    assert(math.abs(out.getAs[Double]("f_stat")) < 1e-4)
    // constant within every group: 0/0 must publish NULL, not error
    val flat = (0 until 14).map { i =>
      (day0 + i * dayUs, i.toLong, "view", if (i < 7) 10.0 else 20.0) }
    val f = byName("q_brown_forsythe")(spark, eventsDir(flat)).head()
    assert(f.isNullAt(f.fieldIndex("f_stat")))
  }

  test("q_goldfeld_quandt: late-segment variance blow-up pushes the " +
    "ratio far above 1") {
    // first third gently alternates 10/11; last third swings 10/50
    val rows = (0 until 30).map { i =>
      val v = if (i < 10) (if (i % 2 == 0) 10.0 else 11.0)
              else if (i >= 20) (if (i % 2 == 0) 10.0 else 50.0)
              else 30.0
      (day0 + i * dayUs, i.toLong, "view", v) }
    val out = byName("q_goldfeld_quandt")(spark, eventsDir(rows)).head()
    assert(out.getAs[Long]("n_per_segment") === 10L)
    assert(out.getAs[Double]("gq_f") > 100.0)
  }

  test("q_cuzick_trend: a strictly increasing series across weeks " +
    "has a strongly positive z") {
    val rows = (0 until 21).map { i =>
      (day0 + i * dayUs, i.toLong, "view", 10.0 + i) }
    val out = byName("q_cuzick_trend")(spark, eventsDir(rows)).head()
    assert(out.getAs[Long]("n_days") === 21L)
    assert(out.getAs[Double]("z") > 2.0)
  }

  test("q_cramer_von_mises: fully separated weekend/weekday " +
    "revenues give a large positive T") {
    // 14 days from Monday: weekends (Jan 6,7,13,14) get 100x revenue
    val rows = (0 until 14).map { i =>
      val weekend = Set(5, 6, 12, 13).contains(i)
      (day0 + i * dayUs, i.toLong, "view", if (weekend) 1000.0 else 10.0)
    }
    val out = byName("q_cramer_von_mises")(spark, eventsDir(rows)).head()
    assert(out.getAs[Long]("n_weekend") === 4L)
    assert(out.getAs[Long]("n_weekday") === 10L)
    assert(out.getAs[Double]("cvm_t") > 0.1)
  }

  test("q_forecast_smape: a period-7 series zeroes both the " +
    "seasonal-naive sMAPE and Theil's U2") {
    val rows = (0 until 21).map { i =>
      (day0 + i * dayUs, i.toLong, "view", 10.0 + (i % 7)) }
    val out = byName("q_forecast_smape")(spark, eventsDir(rows)).head()
    assert(out.getAs[Long]("n_forecasts") === 14L)
    assert(out.getAs[Double]("smape") === 0.0)
    assert(out.getAs[Double]("theil_u2") === 0.0)
  }

  test("q_dfa_alpha: a linear ramp scales like a trend (alpha >> 1)" +
    " and an alternating series like anti-persistence (alpha ~ 0)") {
    val ramp = (0 until 64).map { i =>
      (day0 + i * dayUs, i.toLong, "view", 10.0 + i) }
    val r = byName("q_dfa_alpha")(spark, eventsDir(ramp)).collect()
    assert(r.length === 4) // 64 days: box sizes 4..32 all present
    assert(r.head.getAs[Double]("alpha") > 1.4)
    val alt = (0 until 64).map { i =>
      (day0 + i * dayUs, i.toLong, "view",
        if (i % 2 == 0) 10.0 else 20.0) }
    val a = byName("q_dfa_alpha")(spark, eventsDir(alt)).collect()
    assert(a.head.getAs[Double]("alpha") < 0.35)
  }

  test("q_quadrat_test: one event per hour-of-week cell is exactly " +
    "uniform (chi2 = 0)") {
    val rows = for (d <- 0 until 7; h <- 0 until 24) yield
      (day0 + d * dayUs + h * hourUs, (d * 24 + h).toLong, "view", 1.0)
    val out = byName("q_quadrat_test")(spark, eventsDir(rows)).head()
    assert(out.getAs[Long]("n_events") === 168L)
    assert(out.getAs[Long]("n_cells_occupied") === 168L)
    assert(out.getAs[Long]("max_cell") === 1L)
    assert(out.getAs[Double]("chi2") === 0.0)
  }

  test("q_confusion_metrics: a perfectly separating value threshold " +
    "scores 1.0 on every metric") {
    // mean value 20: the 30s are purchases, the 10s are views
    val rows = Seq(
      (day0, 1L, "view", 10.0), (day0 + hourUs, 2L, "view", 10.0),
      (day0 + 2 * hourUs, 3L, "purchase", 30.0),
      (day0 + 3 * hourUs, 4L, "purchase", 30.0))
    val out = byName("q_confusion_metrics")(spark, eventsDir(rows)).head()
    assert(out.getAs[Long]("tp") === 2L)
    assert(out.getAs[Long]("tn") === 2L)
    assert(out.getAs[Long]("fp") === 0L)
    assert(out.getAs[Long]("fn") === 0L)
    assert(out.getAs[Double]("mcc") === 1.0)
    assert(out.getAs[Double]("kappa") === 1.0)
    assert(out.getAs[Double]("youden_j") === 1.0)
    assert(out.getAs[Double]("f1") === 1.0)
    assert(out.getAs[Double]("balanced_acc") === 1.0)
  }

  test("q_pr_auc: a perfectly separating hour score gives AP = 1") {
    // day 1 (train): hour 10 all purchases, hour 5 all views;
    // day 2 (test): same pattern — hour-10 score 1e6, hour-5 score 0
    val rows =
      (0 until 4).map(i =>
        (day0 + 10 * hourUs + i * 1000000L, i.toLong, "purchase", 1.0)) ++
      (0 until 4).map(i =>
        (day0 + 5 * hourUs + i * 1000000L, 10L + i, "view", 1.0)) ++
      (0 until 4).map(i =>
        (day0 + dayUs + 10 * hourUs + i * 1000000L, 20L + i, "purchase", 1.0)) ++
      (0 until 4).map(i =>
        (day0 + dayUs + 5 * hourUs + i * 1000000L, 30L + i, "view", 1.0))
    val out = byName("q_pr_auc")(spark, eventsDir(rows)).head()
    assert(out.getAs[Long]("n_pos") === 4L)
    assert(out.getAs[Long]("n_neg") === 4L)
    assert(out.getAs[Double]("pr_auc") === 1.0)
  }

  test("q_rec_eval: one hitting and one missing customer make every " +
    "metric a closed-form fraction") {
    import spark.implicits._
    val dir = tempDir("r15rec").toString
    // train (1992-01-01, before the 01-06 midpoint): order 1 makes
    // parts 1..5 popular with counts 6,5,4,3,2 (part 99 appears once)
    val trainLi = (1L to 5L).flatMap(p =>
      (0 until (7 - p.toInt)).map(_ => (1L, p))) :+ (1L, 99L)
    // test (1992-01-10): customer 100 buys parts 1 and 99 (hit at
    // rank 1); customer 200 buys part 99 only (no hits)
    val testLi = Seq((2L, 1L), (2L, 99L), (3L, 99L))
    (trainLi ++ testLi).toDF("l_orderkey", "l_partkey")
      .write.mode("overwrite").parquet(s"$dir/lineitem.parquet")
    Seq((1L, 10L, "1992-01-01"), (2L, 100L, "1992-01-10"),
        (3L, 200L, "1992-01-10"), (4L, 10L, "1992-01-11"))
      .toDF("o_orderkey", "o_custkey", "__d")
      .withColumn("o_orderdate", to_date(col("__d"))).drop("__d")
      .write.mode("overwrite").parquet(s"$dir/orders.parquet")
    val out = byName("q_rec_eval")(spark, dir).head()
    assert(out.getAs[Long]("n_users") === 2L)
    assert(out.getAs[Double]("hit_rate") === 0.5)
    assert(out.getAs[Double]("precision_at_5") === 0.1) // (1/5+0)/2
    assert(out.getAs[Double]("recall_at_5") === 0.25)   // (1/2+0)/2
    assert(out.getAs[Double]("mrr") === 0.5)            // (1/1+0)/2
    assert(out.getAs[Double]("map_at_5") === 0.25)      // (1/2+0)/2
  }

  private def embDir(rows: Seq[(Long, Seq[Double])]): String = {
    import spark.implicits._
    val dir = tempDir("r15emb").toString
    rows.map { case (id, v) => (id, v.map(_.toFloat).toArray, 0L) }
      .toDF("vec_id", "embedding", "label")
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    dir
  }

  test("emb_intra_list_diversity: five colinear neighbors give " +
    "ILD = 0; emb_catalog_coverage counts them once each") {
    // query 0 plus five scaled copies of itself (cosine 1 to the
    // query AND to each other) and four orthogonal distractors
    val base = Seq.tabulate(8)(j => math.sin(j * 3 + 1.0))
    val rows = Seq((0L, base)) ++
      (100L to 104L).map(id => (id, base.map(_ * (1.0 + id / 1000.0)))) ++
      (200L to 203L).map(id =>
        (id, Seq.tabulate(8)(j => if (j == (id % 4).toInt) 1.0 else 0.0)))
    val dir = embDir(rows)
    val ild = byName("emb_intra_list_diversity")(spark, dir).head()
    assert(ild.getAs[Long]("n_pairs") === 10L)
    assert(ild.getAs[Double]("ild") === 0.0)
    val cov = byName("emb_catalog_coverage")(spark, dir).head()
    assert(cov.getAs[Long]("corpus_n") === 10L)
    assert(cov.getAs[Long]("n_recommendations") === 5L)
    assert(cov.getAs[Long]("n_distinct_neighbors") === 5L)
    assert(cov.getAs[Long]("coverage_ppm") === 500000L)
    assert(cov.getAs[Long]("max_exposure") === 1L)
  }

  // shared fixture for the score-metric laws: day 1 (train) and
  // day 2 (test) both have hour 10 all-purchases and hour 5 all-views
  private def separatingScoreRows: Seq[(Long, Long, String, Double)] =
    (0 until 4).map(i =>
      (day0 + 10 * hourUs + i * 1000000L, i.toLong, "purchase", 1.0)) ++
    (0 until 4).map(i =>
      (day0 + 5 * hourUs + i * 1000000L, 10L + i, "view", 1.0)) ++
    (0 until 4).map(i =>
      (day0 + dayUs + 10 * hourUs + i * 1000000L, 20L + i, "purchase", 1.0)) ++
    (0 until 4).map(i =>
      (day0 + dayUs + 5 * hourUs + i * 1000000L, 30L + i, "view", 1.0))

  test("q_hosmer_lemeshow: a perfectly calibrated score gives " +
    "HL chi2 = 0") {
    // hour 10 is 50% purchase in BOTH halves (score 500000 ppm,
    // observed 2 of 4); hour 5 is 0% in both (E = 0 bins publish
    // NULL terms and drop out)
    val rows =
      Seq((day0 + 10 * hourUs, 1L, "purchase", 1.0),
        (day0 + 10 * hourUs + 1000000L, 2L, "purchase", 1.0),
        (day0 + 10 * hourUs + 2000000L, 3L, "view", 1.0),
        (day0 + 10 * hourUs + 3000000L, 4L, "view", 1.0),
        (day0 + 5 * hourUs, 5L, "view", 1.0),
        (day0 + 5 * hourUs + 1000000L, 6L, "view", 1.0)) ++
      Seq((day0 + dayUs + 10 * hourUs, 11L, "purchase", 1.0),
        (day0 + dayUs + 10 * hourUs + 1000000L, 12L, "purchase", 1.0),
        (day0 + dayUs + 10 * hourUs + 2000000L, 13L, "view", 1.0),
        (day0 + dayUs + 10 * hourUs + 3000000L, 14L, "view", 1.0),
        (day0 + dayUs + 5 * hourUs, 15L, "view", 1.0),
        (day0 + dayUs + 5 * hourUs + 1000000L, 16L, "view", 1.0))
    val out = byName("q_hosmer_lemeshow")(spark, eventsDir(rows)).head()
    assert(out.getAs[Long]("n_scored") === 6L)
    assert(out.getAs[Double]("hl_chi2") === 0.0)
  }

  test("q_lift_gains: a separating score captures every positive in " +
    "the first bin at 2x lift") {
    val out = byName("q_lift_gains")(
      spark, eventsDir(separatingScoreRows)).orderBy("bin").collect()
    assert(out.length === 2)
    val b0 = out.head
    assert(b0.getAs[Long]("bin") === 0L)
    assert(b0.getAs[Long]("pos_bin") === 4L)
    assert(b0.getAs[Long]("gain_ppm") === 1000000L)
    assert(b0.getAs[Long]("lift_ppm") === 2000000L) // 4/4 vs base 4/8
    val b5 = out(1)
    assert(b5.getAs[Long]("bin") === 5L)
    assert(b5.getAs[Long]("pos_bin") === 0L)
    assert(b5.getAs[Long]("gain_ppm") === 1000000L)
    assert(b5.getAs[Long]("lift_ppm") === 0L)
  }

  test("q_ks_classifier: a separating score reaches KS = 1 at the " +
    "positive group's score") {
    val out = byName("q_ks_classifier")(
      spark, eventsDir(separatingScoreRows)).head()
    assert(out.getAs[Long]("n_pos") === 4L)
    assert(out.getAs[Long]("n_neg") === 4L)
    assert(out.getAs[Double]("ks_stat") === 1.0)
    assert(out.getAs[Long]("at_score_ppm") === 1000000L)
  }

  test("q_lilliefors: a symmetric two-point distribution sits " +
    "~0.335 from its fitted normal") {
    // 10 days at 10, 10 at 20: z = -/+ 500/512.99, the max ECDF gap
    // lands at the block boundary: 0.5 - Phi(-0.97467) = 0.33514
    val rows = (0 until 20).map { i =>
      (day0 + i * dayUs, i.toLong, "view",
        if (i % 2 == 0) 10.0 else 20.0) }
    val out = byName("q_lilliefors")(spark, eventsDir(rows)).head()
    assert(out.getAs[Long]("n_days") === 20L)
    val dStat = out.getAs[Double]("lilliefors_d")
    assert(dStat > 0.33 && dStat < 0.34, s"D=$dStat")
  }

  test("q_kl_js_drift: identical halves diverge by exactly 0; " +
    "JS stays under ln 2") {
    // Jan 1 (Mon) and Jan 8 (Mon): the same (dow, hour) cells with
    // the same counts in each half -> p1 == p2 -> every term ln 1 = 0
    val same = Seq(3, 3, 17).flatMap(h => Seq(
      (day0 + h * hourUs, 1L, "view", 1.0),
      (day0 + 7 * dayUs + h * hourUs, 2L, "view", 1.0)))
      .zipWithIndex.map { case ((us, _, et, v), i) =>
        (us + i, i.toLong, et, v) }
    val out = byName("q_kl_js_drift")(spark, eventsDir(same)).head()
    assert(out.getAs[Double]("kl_nats") === 0.0)
    assert(out.getAs[Double]("js_nats") === 0.0)
    // fully shifted halves: JS must stay within its ln 2 bound
    val shifted = (0 until 24).map(i =>
      (day0 + 3 * hourUs + i * 1000000L, i.toLong, "view", 1.0)) ++
      (0 until 24).map(i =>
        (day0 + 7 * dayUs + 17 * hourUs + i * 1000000L,
          100L + i, "view", 1.0))
    val s2 = byName("q_kl_js_drift")(spark, eventsDir(shifted)).head()
    assert(s2.getAs[Double]("js_nats") > 0.0)
    assert(s2.getAs[Double]("js_nats") <= math.log(2.0) + 1e-9)
  }

  test("q_wasserstein_daily: two point masses 20 dollars apart cost " +
    "exactly 20 to transport") {
    // 14 days from Monday: weekend days all 30.0, weekdays all 10.0
    val rows = (0 until 14).map { i =>
      val weekend = Set(5, 6, 12, 13).contains(i)
      (day0 + i * dayUs, i.toLong, "view", if (weekend) 30.0 else 10.0)
    }
    val out = byName("q_wasserstein_daily")(spark, eventsDir(rows)).head()
    assert(out.getAs[Long]("n_weekend") === 4L)
    assert(out.getAs[Long]("n_weekday") === 10L)
    assert(out.getAs[Double]("w1_dollars") === 20.0)
  }

  test("emb_rrf_fusion: when both rankers agree the fused winner " +
    "scores exactly 2*round(1e9/61)") {
    // query 0 + one exact duplicate + distractors: rank 1 in BOTH
    // the cosine and hamming lists -> rrf_e9 = 2*16393443
    val base = Seq.tabulate(64)(j => math.sin(j * 3 + 1.0))
    val rows = Seq((0L, base), (100L, base)) ++
      (200L to 214L).map(id =>
        (id, Seq.tabulate(64)(j => math.cos(id * 17 + j * 7))))
    val out = byName("emb_rrf_fusion")(spark, embDir(rows))
      .filter(col("query_id") === 0 && col("fused_rank") === 1).head()
    assert(out.getAs[Long]("neighbor_id") === 100L)
    assert(out.getAs[Long]("rrf_e9") === 2L * 16393443L)
  }

  test("emb_knn_reciprocity: a single 6-clique is fully mutual") {
    val base = Seq.tabulate(64)(j => math.sin(j * 3 + 1.0))
    val rows = (0L to 5L).map(id =>
      (id, base.map(_ * (1.0 + id / 100.0))))
    val out = byName("emb_knn_reciprocity")(spark, embDir(rows)).head()
    assert(out.getAs[Long]("n_nodes") === 6L)
    assert(out.getAs[Long]("n_edges") === 30L)
    assert(out.getAs[Long]("n_mutual") === 30L)
    assert(out.getAs[Long]("reciprocity_ppm") === 1000000L)
  }

  private def eventsPropsDir(
      rows: Seq[(Long, Long, String, Double, String)]): String = {
    import spark.implicits._
    val dir = tempDir("r15evp").toString
    rows.zipWithIndex
      .map { case ((us, uid, et, v, pr), i) => (i.toLong, us, uid, et, v, pr) }
      .toDF("event_id", "__us", "user_id", "event_type", "value", "props")
      .withColumn("ts", timestamp_micros(col("__us"))).drop("__us")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    dir
  }

  test("q_breslow_day: identical per-day 2x2 tables are perfectly " +
    "homogeneous (BD = 0 at the exact MH odds ratio)") {
    // each day: a=2 b=1 c=1 d=2 -> psi = 4; the stratum quadratic
    // solves to ea = 2 = a EXACTLY (disc = 144), so every term is 0
    val lo = "{\"k\": 10}"; val hi = "{\"k\": 90}"
    def day(off: Long, base: Long) = Seq(
      (day0 + off, base, "purchase", 1.0, lo),
      (day0 + off + 1000000L, base + 1, "purchase", 1.0, lo),
      (day0 + off + 2000000L, base + 2, "view", 1.0, lo),
      (day0 + off + 3000000L, base + 3, "purchase", 1.0, hi),
      (day0 + off + 4000000L, base + 4, "view", 1.0, hi),
      (day0 + off + 5000000L, base + 5, "view", 1.0, hi))
    val rows = day(0L, 0L) ++ day(dayUs, 100L)
    val out = byName("q_breslow_day")(spark, eventsPropsDir(rows)).head()
    assert(out.getAs[Long]("n_strata") === 2L)
    assert(out.getAs[Double]("psi_mh") === 4.0)
    assert(out.getAs[Double]("bd_chi2") === 0.0)
  }

  test("q_cochran_armitage: a flat rate is exactly zero trend; a " +
    "step up in the late hours is strongly positive") {
    val flat = (0 until 24).flatMap(h => Seq(
      (day0 + h * hourUs, h.toLong, "purchase", 1.0),
      (day0 + h * hourUs + 1000000L, 100L + h, "view", 1.0)))
    val f = byName("q_cochran_armitage")(spark, eventsDir(flat)).head()
    assert(f.getAs[Double]("z_trend") === 0.0)
    val step = (0 until 24).flatMap(h => (0 until 5).map(i =>
      (day0 + h * hourUs + i * 1000000L, (h * 5 + i).toLong,
        if (h >= 12) "purchase" else "view", 1.0)))
    val t = byName("q_cochran_armitage")(spark, eventsDir(step)).head()
    assert(t.getAs[Long]("n_events") === 120L)
    assert(t.getAs[Long]("n_pos") === 60L)
    assert(t.getAs[Double]("z_trend") > 3.0)
  }

  test("sf0.001 range sanity: stats land in their lawful ranges") {
    val d = "/root/testdata/sf0.001"
    val cm = byName("q_confusion_metrics")(spark, d).head()
    val mcc = cm.getAs[Double]("mcc")
    assert(mcc >= -1.0 && mcc <= 1.0)
    val pr = byName("q_pr_auc")(spark, d).head()
    val auc = pr.getAs[Double]("pr_auc")
    assert(auc > 0.0 && auc <= 1.0)
    val sm = byName("q_forecast_smape")(spark, d).head()
    assert(sm.getAs[Double]("smape") >= 0.0)
    assert(sm.getAs[Double]("smape") <= 200.0)
    val qt = byName("q_quadrat_test")(spark, d).head()
    assert(qt.getAs[Double]("chi2") >= 0.0)
  }
}
