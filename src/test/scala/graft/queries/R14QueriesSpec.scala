package graft.queries

import graft.GraftSpec
import org.apache.spark.sql.functions._

/** Laws for the round-12 extension kernels. Each law pins a
  * closed-form fixture outcome a same-formula-on-both-engines slip
  * could not fake (a symmetric 2×2 → Fisher p = 1, identical group
  * distributions → Conover T = 0, one-event-per-hour → KS D = 0,
  * constant series → all baseline errors 0, a minute-aligned dwell →
  * sampled concurrency ≡ the integral), plus sf0.001 range sanity.
  */
class R14QueriesSpec extends GraftSpec {

  private def byName(name: String) = graft.SparkEntry.queries(name)

  private def eventsDir(rows: Seq[(Long, Long, String, Double)]): String = {
    import spark.implicits._
    val dir = tempDir("r14ev").toString
    rows.zipWithIndex
      .map { case ((us, uid, et, v), i) => (i.toLong, us, uid, et, v, "{}") }
      .toDF("event_id", "__us", "user_id", "event_type", "value", "props")
      .withColumn("ts", timestamp_micros(col("__us"))).drop("__us")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    dir
  }

  private def docsDir(rows: Seq[(Long, String)]): String = {
    import spark.implicits._
    val dir = tempDir("r14doc").toString
    rows.map { case (id, t) => (id, t, "en", "web", t.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    dir
  }

  private def liPartDir(li: Seq[(Long, Double)],
                        parts: Seq[(Long, String)]): String = {
    import spark.implicits._
    val dir = tempDir("r14li").toString
    li.zipWithIndex.map { case ((pk, px), i) => (i.toLong, pk, px) }
      .toDF("l_orderkey", "l_partkey", "l_extendedprice")
      .write.mode("overwrite").parquet(s"$dir/lineitem.parquet")
    parts.toDF("p_partkey", "p_brand")
      .write.mode("overwrite").parquet(s"$dir/part.parquet")
    dir
  }

  private val day0 = 1704067200000000L // 2024-01-01 (Mon) UTC micros
  private val dayUs = 86400000000L
  private val sat = day0 + 5 * dayUs // 2024-01-06, Saturday
  private val wed = day0 + 2 * dayUs // 2024-01-03, Wednesday

  test("q_fisher_exact: symmetric 3/3 margins with a=2 give p = 1") {
    // support pmf ∝ {1,9,9,1}; observed a=2 has the modal probability,
    // so EVERY table is "as extreme" → two-sided p = 1, OR = 4
    val rows = Seq(
      (sat, 1L, "purchase", 1.0), (sat + 1000000L, 2L, "purchase", 1.0),
      (sat + 2000000L, 3L, "view", 1.0),
      (wed, 4L, "purchase", 1.0), (wed + 1000000L, 5L, "view", 1.0),
      (wed + 2000000L, 6L, "view", 1.0))
    val out = byName("q_fisher_exact")(spark, eventsDir(rows)).head()
    assert(out.getAs[Long]("a") === 2L)
    assert(out.getAs[Long]("b") === 1L)
    assert(out.getAs[Long]("c") === 1L)
    assert(out.getAs[Long]("d") === 2L)
    assert(out.getAs[Double]("odds_ratio") === 4.0)
    assert(out.getAs[Double]("p_two_sided") === 1.0)
  }

  test("q_fisher_exact: a support wider than 2^21 is walked in full " +
    "and agrees with the Lanczos log-gamma pmf") {
    // 9M events, balanced 4.5M/4.5M margins with 4500 flipped cells:
    // support [4500, 4.5e6] (≈4.5M values — more than double the old
    // 2^21 cap, with the pmf MODE above the cap too, so a truncated
    // walk would drop over half the probability mass and the p-value
    // would be wildly wrong, not subtly). The observed a sits 3σ
    // below its expectation → a mid-range two-sided p that an
    // independent driver-side Lanczos-Γ evaluation must reproduce.
    import spark.implicits._
    val dir = tempDir("r14fx").toString
    val sat0 = sat * 1L; val wed0 = wed * 1L
    spark.range(0, 9000000L, 1, 8)
      .selectExpr("id AS event_id",
        s"timestamp_micros(CASE WHEN id % 2 = 1 THEN ${sat0}L + id" +
          s" ELSE ${wed0}L + id END) AS ts",
        "id AS user_id",
        "CASE WHEN id % 4 IN (1, 2) OR (id % 4 = 0 AND id < 18000)" +
          " THEN 'purchase' ELSE 'view' END AS event_type",
        "1.0d AS value", "'{}' AS props")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val out = byName("q_fisher_exact")(spark, dir).head()
    val (a, b, c, d2) = (out.getAs[Long]("a"), out.getAs[Long]("b"),
      out.getAs[Long]("c"), out.getAs[Long]("d"))
    assert(a === 2250000L && b === 2250000L)
    assert(c === 2254500L && d2 === 2245500L)
    val (m1, m2, n1) = (a + b, c + d2, a + c)
    val lo = math.max(0L, n1 - m2); val hi = math.min(n1, m1)
    assert(hi - lo > (1L << 21), "support must exceed the old cap")
    // independent reference: direct ln-pmf via Lanczos(g=7) lgamma
    val lg = Array(0.99999999999980993, 676.5203681218851,
      -1259.1392167224028, 771.32342877765313, -176.61502916214059,
      12.507343278686905, -0.13857109526572012, 9.9843695780195716e-6,
      1.5056327351493116e-7)
    def lgamma(x: Double): Double = {
      val z = x - 1.0
      val base = z + 7.5
      var s = lg(0)
      var i = 1
      while (i < 9) { s += lg(i) / (z + i); i += 1 }
      0.5 * math.log(2.0 * math.Pi) + (z + 0.5) * math.log(base) -
        base + math.log(s)
    }
    def lchoose(nn: Long, kk: Long): Double =
      lgamma(nn + 1.0) - lgamma(kk + 1.0) - lgamma(nn - kk + 1.0)
    val n = m1 + m2
    val denom = lchoose(n, n1)
    val lnObs = lchoose(m1, a) + lchoose(m2, n1 - a) - denom
    val ln = new Array[Double]((hi - lo + 1).toInt)
    var k = lo
    while (k <= hi) {
      ln((k - lo).toInt) =
        lchoose(m1, k) + lchoose(m2, n1 - k) - denom
      k += 1
    }
    val mx = ln.max
    var tot = 0.0; var le = 0.0
    var j = 0
    while (j < ln.length) {
      val w = math.exp(ln(j) - mx)
      tot += w
      if (ln(j) <= lnObs + 1e-9) le += w
      j += 1
    }
    val pRef = le / tot
    val pQ = out.getAs[Double]("p_two_sided")
    assert(pQ > 1e-4 && pQ < 0.05, s"p=$pQ should be mid-range-small")
    assert(math.abs(pQ - pRef) < 2e-4,
      s"query p=$pQ vs Lanczos reference p=$pRef")
  }

  test("q_fisher_exact: sf0.001 p lands in (0, 1]") {
    val out = byName("q_fisher_exact")(spark, "/root/testdata/sf0.001").head()
    val p = out.getAs[Double]("p_two_sided")
    assert(p > 0.0 && p <= 1.0)
    assert(out.getAs[Long]("a") + out.getAs[Long]("b") +
      out.getAs[Long]("c") + out.getAs[Long]("d") === 1000L)
  }

  test("q_value_at_risk: with 20 unique changes the 5% tail is the minimum") {
    val vals = Seq(50, 10, 20, 30, 40, 45, 48, 49, 51, 52,
      55, 60, 66, 70, 75, 80, 88, 90, 95, 99, 100)
    val rows = vals.zipWithIndex.map { case (v, di) =>
      (day0 + di * dayUs, di.toLong, "view", v.toDouble)
    }
    val out = byName("q_value_at_risk")(spark, eventsDir(rows)).head()
    assert(out.getAs[Long]("n_changes") === 20L)
    // min change is 10 - 50 = -40.00 → -4000 cents
    assert(out.getAs[Long]("var95_cents") === -4000L)
    assert(out.getAs[Long]("var99_cents") === -4000L)
    assert(out.getAs[Double]("es95") === -40.0)
    assert(out.getAs[Double]("es99") === -40.0)
  }

  test("q_value_at_risk: sf0.001 tails are ordered var99 <= var95 <= 0-ish") {
    val out = byName("q_value_at_risk")(spark, "/root/testdata/sf0.001").head()
    assert(out.getAs[Long]("var99_cents") <= out.getAs[Long]("var95_cents"))
    assert(out.getAs[Double]("es99") <= out.getAs[Double]("es95") + 1e-9)
  }

  test("q_herfindahl: 3:1 two-brand split gives HHI 0.625") {
    val dir = liPartDir(
      li = Seq((1L, 30.0), (2L, 10.0)),
      parts = Seq((1L, "Brand#A"), (2L, "Brand#B")))
    val out = byName("q_herfindahl")(spark, dir).head()
    assert(out.getAs[Long]("k_brands") === 2L)
    assert(out.getAs[Double]("hhi") === 0.625)
    assert(out.getAs[Double]("hhi_norm") === 0.25)
    assert(out.getAs[Long]("top_share_ppm") === 750000L)
  }

  test("q_herfindahl: sf0.001 HHI sits between 1/k and 1") {
    val out = byName("q_herfindahl")(spark, "/root/testdata/sf0.001").head()
    val k = out.getAs[Long]("k_brands").toDouble
    val hhi = out.getAs[Double]("hhi")
    assert(hhi >= 1.0 / k - 1e-9 && hhi <= 1.0)
    assert(out.getAs[Long]("top_share_ppm") >= (1000000L / k).toLong)
  }

  test("q_dixon_q: a detached maximum dominates the gap ratio") {
    // daily revenues 100,200,300,400,500,2000 cents
    val rows = Seq(1, 2, 3, 4, 5, 20).zipWithIndex.map { case (v, di) =>
      (day0 + di * dayUs, di.toLong, "view", v.toDouble)
    }
    val out = byName("q_dixon_q")(spark, eventsDir(rows)).head()
    assert(out.getAs[Long]("n_days") === 6L)
    // q_high = (2000-500)/(2000-100) = 15/19, q_low = 100/1900 = 1/19
    assert(out.getAs[Double]("q_high") === 0.789474)
    assert(out.getAs[Double]("q_low") === 0.052632)
    assert(out.getAs[String]("high_day") === "2024-01-06")
    assert(out.getAs[String]("low_day") === "2024-01-01")
  }

  test("q_conover_squared_ranks: identical group distributions give T = 0") {
    // both types see {0, 10, 20} milli-units → identical z multisets
    // → every group's squared-rank sum equals its expectation exactly
    val rows = for {
      (et, gi) <- Seq("view", "click").zipWithIndex
      (v, j) <- Seq(0.0, 0.010, 0.020).zipWithIndex
    } yield (day0 + (gi * 3 + j) * 1000000L, (gi * 3 + j).toLong, et, v)
    val out = byName("q_conover_squared_ranks")(spark, eventsDir(rows)).head()
    assert(out.getAs[Long]("k_groups") === 2L)
    assert(out.getAs[Long]("n") === 6L)
    assert(out.getAs[Double]("t_stat") === 0.0)
  }

  test("q_conover_squared_ranks: sf0.001 stat is finite and nonnegative") {
    val out = byName("q_conover_squared_ranks")(
      spark, "/root/testdata/sf0.001").head()
    assert(out.getAs[Double]("t_stat") >= 0.0)
    assert(out.getAs[Long]("df") === out.getAs[Long]("k_groups") - 1)
  }

  test("q_ks_uniform: one event per hour is exactly uniform (D = 0)") {
    val rows = (0 until 24).map(h =>
      (day0 + h * 3600000000L, h.toLong, "view", 1.0))
    val out = byName("q_ks_uniform")(spark, eventsDir(rows)).head()
    assert(out.getAs[Long]("n_events") === 24L)
    assert(out.getAs[Double]("d_stat") === 0.0)
    assert(out.getAs[Long]("at_hour") === 0L)
  }

  test("q_ks_uniform: sf0.001 D lands in [0, 1)") {
    val out = byName("q_ks_uniform")(spark, "/root/testdata/sf0.001").head()
    val dd = out.getAs[Double]("d_stat")
    assert(dd >= 0.0 && dd < 1.0)
  }

  test("q_forecast_baselines: a constant series is forecast perfectly by all four") {
    // 17 days: train t∈0..9, holdout t∈10..16, snaive lag t−7 ≥ 3
    val rows = (0 until 17).map(di =>
      (day0 + di * dayUs, di.toLong, "view", 5.0))
    val out = byName("q_forecast_baselines")(spark, eventsDir(rows))
      .collect()
    assert(out.length === 4)
    assert(out.map(_.getAs[String]("model")).toSeq ===
      Seq("drift", "mean", "naive", "snaive"))
    out.foreach { r =>
      assert(r.getAs[Long]("n_holdout") === 7L)
      assert(r.getAs[Double]("mae") === 0.0)
      assert(r.getAs[Double]("rmse") === 0.0)
    }
  }

  test("q_forecast_baselines: sf0.001 panel has 4 models with mae <= rmse") {
    val out = byName("q_forecast_baselines")(
      spark, "/root/testdata/sf0.001").collect()
    assert(out.length === 4)
    out.foreach(r =>
      assert(r.getAs[Double]("mae") <= r.getAs[Double]("rmse") + 1e-9))
  }

  test("q_little_law: a minute-aligned 60s dwell makes sampling exact") {
    val rows = Seq((day0, 1L, "view", 1.0),
      (day0 + 60000000L, 1L, "view", 1.0))
    val out = byName("q_little_law")(spark, eventsDir(rows)).head()
    assert(out.getAs[Long]("n_user_days") === 1L)
    assert(out.getAs[Double]("w_mean_sec") === 60.0)
    assert(out.getAs[Double]("l_integral") ===
      out.getAs[Double]("l_sampled"))
    assert(out.getAs[Double]("sampled_over_integral") === 1.0)
  }

  test("q_little_law: sf0.001 sampling stays within 2x of the integral") {
    val out = byName("q_little_law")(spark, "/root/testdata/sf0.001").head()
    val r = out.getAs[Double]("sampled_over_integral")
    assert(r > 0.5 && r < 2.0)
    assert(out.getAs[Double]("l_integral") > 0.0)
  }

  test("q_seq_pattern_mining: view-then-purchase is the only 2-pattern") {
    val rows = Seq(
      (day0, 1L, "view", 1.0), (day0 + 1000000L, 1L, "purchase", 1.0),
      (day0 + 2000000L, 2L, "view", 1.0),
      (day0 + 3000000L, 2L, "purchase", 1.0))
    val out = byName("q_seq_pattern_mining")(spark, eventsDir(rows))
      .collect()
    assert(out.length === 1)
    assert(out.head.getAs[String]("first_type") === "view")
    assert(out.head.getAs[String]("then_type") === "purchase")
    assert(out.head.getAs[Long]("support") === 2L)
    assert(out.head.getAs[Long]("support_ppm") === 1000000L)
  }

  test("q_seq_pattern_mining: sf0.001 supports are ppm-consistent and sorted") {
    val out = byName("q_seq_pattern_mining")(
      spark, "/root/testdata/sf0.001").collect()
    assert(out.nonEmpty && out.length <= 20)
    val sup = out.map(_.getAs[Long]("support")).toSeq
    assert(sup === sup.sorted.reverse)
  }

  test("pipe_perplexity_filter: identical docs all land inside the band") {
    val dir = docsDir((0L until 10L).map(i => (i, "alpha beta gamma")))
    val out = byName("pipe_perplexity_filter")(spark, dir).collect()
    assert(out.length === 10)
    assert(out.map(_.getAs[Long]("mlp_e9")).distinct.length === 1)
  }

  test("pipe_perplexity_filter: sf0.001 keeps a nonempty middle band") {
    val out = byName("pipe_perplexity_filter")(
      spark, "/root/testdata/sf0.001").collect()
    assert(out.nonEmpty)
    val m = out.map(_.getAs[Long]("mlp_e9"))
    assert(m.min <= m.max && m.max < 0L) // log-probs are negative
  }

  private def liDir(rows: Seq[(Long, Long)]): String = {
    import spark.implicits._
    val dir = tempDir("r14co").toString
    rows.toDF("l_orderkey", "l_partkey")
      .write.mode("overwrite").parquet(s"$dir/lineitem.parquet")
    dir
  }

  test("q_jaccard_linkpred: path endpoints share their whole neighborhood") {
    // edges 1-2 and 2-3 (support 2 each); the only candidate non-edge
    // is (1,3): Γ1 = Γ3 = {2} → J = 1/(1+1−1) = 1
    val rows = Seq(
      (1L, 1L), (1L, 2L), (2L, 1L), (2L, 2L),
      (3L, 2L), (3L, 3L), (4L, 2L), (4L, 3L))
    val out = byName("q_jaccard_linkpred")(spark, liDir(rows)).collect()
    assert(out.length === 1)
    assert(out.head.getAs[Long]("a") === 1L)
    assert(out.head.getAs[Long]("b") === 3L)
    assert(out.head.getAs[Long]("common_neighbors") === 1L)
    assert(out.head.getAs[Long]("jaccard_ppm") === 1000000L)
  }

  test("q_degree_powerlaw: one tail node at degree 2 pins the Hill MLE") {
    // path graph degrees {1, 2, 1} → tail = the middle node, and
    // α = 1 + 1/ln(2/1.5) with the 9dp-quantized log
    val rows = Seq(
      (1L, 1L), (1L, 2L), (2L, 1L), (2L, 2L),
      (3L, 2L), (3L, 3L), (4L, 2L), (4L, 3L))
    val out = byName("q_degree_powerlaw")(spark, liDir(rows)).head()
    assert(out.getAs[Long]("n_tail") === 1L)
    assert(out.getAs[Long]("d_max") === 2L)
    val lnq = math.rint(math.log(2.0 / 1.5) * 1e9) / 1e9
    val exp = BigDecimal(1.0 + 1.0 / lnq)
      .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(out.getAs[Double]("alpha") === exp)
  }

  test("q_seasonality_strength: a pure period-7 signal has strength 1") {
    // weekly pattern repeated 5x: every 7-term MA window sums to the
    // same total, so the detrended series is exactly seasonal
    val pat = Seq(10, 20, 30, 40, 50, 60, 70)
    val rows = (0 until 35).map { di =>
      (day0 + di * dayUs, di.toLong, "view", pat(di % 7).toDouble)
    }
    val out = byName("q_seasonality_strength")(spark, eventsDir(rows)).head()
    assert(out.getAs[Long]("n_days_used") === 29L)
    assert(out.getAs[Double]("f_seasonal") === 1.0)
    assert(out.getAs[Double]("f_trend") === 1.0)
  }

  test("q_seasonality_strength: sf0.001 strengths live in [0, 1]") {
    val out = byName("q_seasonality_strength")(
      spark, "/root/testdata/sf0.001").head()
    val fs = out.getAs[Double]("f_seasonal")
    val ft = out.getAs[Double]("f_trend")
    assert(fs >= 0.0 && fs <= 1.0)
    assert(ft >= 0.0 && ft <= 1.0)
  }

  test("q_median_polish: an additive matrix polishes to zero residuals") {
    // v(dw, hr) = (dw+1) + hr over one full week → effects recover
    // the components up to the medians folded into `overall`
    val rows = for {
      dw <- 0 until 7
      hr <- 0 until 24
      k <- 0 until (dw + 1 + hr)
    } yield (day0 + dw * dayUs + hr * 3600000000L + k * 1000L,
      (dw * 100 + hr).toLong, "view", 1.0)
    val out = byName("q_median_polish")(spark, eventsDir(rows))
      .collect()
      .map(r => (r.getAs[String]("component"), r.getAs[Long]("idx")) ->
        r.getAs[Long]("effect")).toMap
    assert(out(("resid_max", 0L)) === 0L)
    assert(out(("overall", 0L)) === 15L)
    assert(out(("dow", 0L)) === -3L)   // a=1 − lowmed(a)=4
    assert(out(("dow", 6L)) === 3L)
    assert(out(("hour", 0L)) === -11L) // b=0 − lowmed(b)=11
    assert(out(("hour", 23L)) === 12L)
  }

  test("q_p_chart: only the shifted day breaches the 3-sigma band") {
    // 9 days at 10% errors, one day at 90% → only that day's
    // cross-multiplied deviation exceeds 9·E(N−E)n
    val rows = (0 until 10).flatMap { di =>
      val errs = if (di == 9) 90 else 10
      (0 until 100).map { j =>
        (day0 + di * dayUs + j * 1000000L, (di * 100 + j).toLong,
          if (j < errs) "error" else "view", 1.0)
      }
    }
    val out = byName("q_p_chart")(spark, eventsDir(rows)).head()
    assert(out.getAs[Long]("n_days") === 10L)
    assert(out.getAs[Long]("pbar_ppm") === 180000L)
    assert(out.getAs[Long]("n_flagged") === 1L)
    assert(out.getAs[String]("first_flagged") === "2024-01-10")
  }

  test("q_block_bootstrap: a constant series bootstraps to zero SE") {
    val rows = (0 until 20).map(di =>
      (day0 + di * dayUs, di.toLong, "view", 5.0))
    val out = byName("q_block_bootstrap")(spark, eventsDir(rows)).head()
    assert(out.getAs[Long]("n_days") === 20L)
    assert(out.getAs[Long]("b_reps") === 100L)
    assert(out.getAs[Double]("mean_obs") === 5.0)
    assert(out.getAs[Double]("se_boot") === 0.0)
  }

  test("q_seasonal_hybrid_esd: the planted spike survives deseasonalization") {
    // strong weekly rhythm + one spiked day: the seasonal medians
    // absorb the rhythm, so round 1 must flag the spike itself
    val pat = Seq(10, 20, 30, 40, 50, 60, 70)
    val rows = (0 until 21).map { di =>
      val v = if (di == 10) 1000.0 else pat(di % 7).toDouble
      (day0 + di * dayUs, di.toLong, "view", v)
    }
    val out = byName("q_seasonal_hybrid_esd")(spark, eventsDir(rows))
      .collect()
    assert(out.length === 5)
    assert(out.head.getAs[Int]("round") === 1)
    assert(out.head.getAs[String]("day") === "2024-01-11")
  }

  test("q_seasonal_hybrid_esd: sf0.001 yields 5 distinct flagged days") {
    val out = byName("q_seasonal_hybrid_esd")(
      spark, "/root/testdata/sf0.001").collect()
    assert(out.length === 5)
    assert(out.map(_.getAs[String]("day")).distinct.length === 5)
  }

  private def embDir16(rows: Seq[(Long, Float, Int)]): String = {
    import spark.implicits._
    val dir = tempDir("r14emb").toString
    rows.map { case (id, x0, lbl) =>
      (id, Array.fill(16)(0f).updated(0, x0), lbl)
    }.toDF("vec_id", "embedding", "label")
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    dir
  }

  test("emb_triplet_margin: exactly the planted impostor violates") {
    // label 0 = {0, 0.001, 9.999(impostor)}, label 1 = {10, 10}:
    // the impostor's nearest same-label is across the gap while its
    // nearest other-label is 1 grid unit away — the only violation
    val dir = embDir16(Seq(
      (0L, 0.0f, 0), (1L, 0.001f, 0), (2L, 9.999f, 0),
      (3L, 10.0f, 1), (4L, 10.0f, 1)))
    val out = byName("emb_triplet_margin")(spark, dir)
      .collect().map(r => r.getAs[Long]("label") ->
        (r.getAs[Long]("n_anchors"), r.getAs[Long]("n_violations"),
          r.getAs[Long]("violation_ppm"))).toMap
    assert(out(0L) === ((3L, 1L, 333333L)))
    assert(out(1L) === ((2L, 0L, 0L)))
  }

  test("emb_triplet_margin: sf0.001 audits all 10 labels") {
    val out = byName("emb_triplet_margin")(
      spark, "/root/testdata/sf0.001").collect()
    assert(out.length === 10)
    out.foreach { r =>
      val ppm = r.getAs[Long]("violation_ppm")
      assert(ppm >= 0L && ppm <= 1000000L)
    }
  }

  test("q_stream_windowed_topk: every window's board has distinct in-order ranks") {
    val out = byName("q_stream_windowed_topk")(
      spark, "/root/testdata/sf0.001").collect()
    assert(out.nonEmpty)
    out.groupBy(_.getAs[java.sql.Timestamp]("window_start"))
      .foreach { case (_, rows) =>
        val ranked = rows.sortBy(_.getAs[Int]("rank"))
        assert(ranked.map(_.getAs[Int]("rank")).toSeq ===
          (1 to ranked.length))
        val ns = ranked.map(_.getAs[Long]("n")).toSeq
        assert(ns === ns.sorted.reverse)
      }
  }

  test("q_adstock_regression: revenue proportional to adstock fits R2 = 1") {
    // one click on day 0 → adstock_t = 0.5^t (exact ≤9dp for t ≤ 7);
    // value 128·0.5^t stays INTEGER currency (no cent quantization),
    // so the fit is exactly y = 128·a
    val rows = (0 until 8).flatMap { di =>
      val click = if (di == 0) Seq((day0 + di * dayUs, di.toLong,
        "click", 0.0)) else Seq.empty
      click :+ ((day0 + di * dayUs + 1000000L, (100 + di).toLong,
        "view", 128.0 * math.pow(0.5, di)))
    }
    val out = byName("q_adstock_regression")(spark, eventsDir(rows)).head()
    assert(out.getAs[Long]("n_days") === 8L)
    assert(out.getAs[Double]("r2") === 1.0)
    assert(out.getAs[Double]("beta") === 128.0)
  }

  test("q_event_study: all activity lands on the purchase day itself") {
    val rows = Seq(
      (day0 + 7 * dayUs, 1L, "purchase", 1.0),
      (day0 + 7 * dayUs + 1000000L, 1L, "view", 1.0),
      (day0 + 7 * dayUs, 2L, "purchase", 1.0))
    val out = byName("q_event_study")(spark, eventsDir(rows))
      .collect().map(r => r.getAs[Long]("rel_day") ->
        (r.getAs[Long]("n_events"), r.getAs[Long]("events_ppm_user")))
      .toMap
    assert(out.size === 15)
    assert(out(0L) === ((3L, 1500000L)))
    (-7L to 7L).filter(_ != 0L).foreach(rd => assert(out(rd) === ((0L, 0L))))
  }

  test("q_yuen_trimmed: identical channels give t = 0 with the exact trimmed mean") {
    // both groups see values 1..10 → 20% trim keeps ranks 3..8,
    // trimmed mean exactly 5.5, difference exactly 0
    val rows = for {
      (et, gi) <- Seq("view", "click").zipWithIndex
      k <- 1 to 10
    } yield (day0 + (gi * 10 + k) * 1000000L, (gi * 10 + k).toLong,
      et, k.toDouble)
    val out = byName("q_yuen_trimmed")(spark, eventsDir(rows)).head()
    assert(out.getAs[Long]("n1") === 10L)
    assert(out.getAs[Long]("h1") === 6L)
    assert(out.getAs[Double]("tm_view") === 5.5)
    assert(out.getAs[Double]("tm_click") === 5.5)
    assert(out.getAs[Double]("t_stat") === 0.0)
  }

  test("q_yuen_trimmed: sf0.001 halves trim 20% each side") {
    val out = byName("q_yuen_trimmed")(spark, "/root/testdata/sf0.001").head()
    assert(out.getAs[Long]("h1") ===
      out.getAs[Long]("n1") - 2 * (out.getAs[Long]("n1") / 5))
    assert(!out.getAs[Double]("t_stat").isNaN)
  }

  test("emb_cluster_ari_nmi: sf0.001 indices live in their ranges") {
    val out = byName("emb_cluster_ari_nmi")(
      spark, "/root/testdata/sf0.001").head()
    assert(out.getAs[Long]("n_vecs") === 500L)
    assert(out.getAs[Long]("n_labels") === 10L)
    val ari = out.getAs[Double]("ari")
    val nmi = out.getAs[Double]("nmi")
    assert(ari >= -1.0 && ari <= 1.0)
    assert(nmi >= 0.0 && nmi <= 1.0 + 1e-9)
  }

  test("q_shapiro_francia: W' is affine-invariant and lands in (0, 1]") {
    val vals = Seq(3, 1, 4, 1, 5, 9, 2, 6, 5, 3, 5, 8, 9, 7, 9)
    def dirFor(f: Int => Int) = eventsDir(vals.zipWithIndex.map {
      case (v, di) => (day0 + di * dayUs, di.toLong, "view",
        f(v).toDouble)
    })
    val w1 = byName("q_shapiro_francia")(spark, dirFor(identity))
      .head().getAs[Double]("w_prime")
    val w2 = byName("q_shapiro_francia")(spark, dirFor(v => 3 * v + 7))
      .head().getAs[Double]("w_prime")
    assert(w1 === w2) // location-scale invariance of the correlation
    assert(w1 > 0.0 && w1 <= 1.0)
  }

  test("q_shapiro_francia: sf0.001 statistic is a valid squared correlation") {
    val out = byName("q_shapiro_francia")(
      spark, "/root/testdata/sf0.001").head()
    val w = out.getAs[Double]("w_prime")
    assert(w > 0.0 && w <= 1.0)
    assert(out.getAs[Long]("n_days") === 30L)
  }

  test("emb_energy_distance: two separated point-pairs give exactly 2x the gap") {
    // label 0 at x=0 (twice), label 1 at x=2.0 (twice): within-group
    // distances 0, cross distances 2000 grid units → E = 4000
    val dir = embDir16(Seq(
      (0L, 0.0f, 0), (1L, 0.0f, 0), (2L, 2.0f, 1), (3L, 2.0f, 1)))
    val out = byName("emb_energy_distance")(spark, dir).head()
    assert(out.getAs[Long]("nx") === 2L)
    assert(out.getAs[Long]("ny") === 2L)
    assert(out.getAs[Double]("mean_cross") === 2000.0)
    assert(out.getAs[Double]("e_dist") === 4000.0)
  }

  test("emb_energy_distance: sf0.001 distance is nonnegative-ish and finite") {
    val out = byName("emb_energy_distance")(
      spark, "/root/testdata/sf0.001").head()
    assert(!out.getAs[Double]("e_dist").isNaN)
    assert(out.getAs[Double]("mean_cross") > 0.0)
  }

  test("q_newey_west: a trending series inflates the HAC SE above iid") {
    // ramp 1..20: residuals from the mean are maximally positively
    // autocorrelated → Bartlett-weighted LRV ≫ γ₀
    val rows = (0 until 20).map(di =>
      (day0 + di * dayUs, di.toLong, "view", (di + 1).toDouble))
    val out = byName("q_newey_west")(spark, eventsDir(rows)).head()
    assert(out.getAs[Long]("n_days") === 20L)
    assert(out.getAs[Double]("hac_over_iid") > 1.5)
    assert(out.getAs[Double]("se_hac") > out.getAs[Double]("se_iid"))
  }

  test("q_newey_west: hac_over_iid IS se_hac/se_iid, and an " +
    "alternating series deflates it below 1") {
    // identity law on the trending ramp: the published ratio column
    // must agree with the published SEs (the r12 spelling was off by
    // sqrt(n) — it reported ~sqrt(n-1) on white noise — and only an
    // internal-consistency check catches a both-engines slip)
    val ramp = (0 until 20).map(di =>
      (day0 + di * dayUs, di.toLong, "view", (di + 1).toDouble))
    val r = byName("q_newey_west")(spark, eventsDir(ramp)).head()
    val ratio = r.getAs[Double]("hac_over_iid")
    val fromSe = r.getAs[Double]("se_hac") / r.getAs[Double]("se_iid")
    assert(math.abs(ratio - fromSe) < 0.02)
    // a perfectly alternating series has lag-k autocovariance
    // (-1)^k*gamma0, so the Bartlett sum 1 + 2*sum((1-k/6)(-1)^k)
    // telescopes to ~0: HAC SE far BELOW iid — the sqrt(n)-inflated
    // spelling could never publish a sub-1 ratio
    val alt = (0 until 24).map(di =>
      (day0 + di * dayUs, di.toLong, "view",
        if (di % 2 == 0) 10.0 else 20.0))
    val a = byName("q_newey_west")(spark, eventsDir(alt)).head()
    val altRatio = a.getAs[Double]("hac_over_iid")
    assert(altRatio < 0.5, s"alternating ratio $altRatio should be ~0")
  }

  test("q_newey_west: a constant series has zero SE and a null ratio") {
    val rows = (0 until 10).map(di =>
      (day0 + di * dayUs, di.toLong, "view", 5.0))
    val out = byName("q_newey_west")(spark, eventsDir(rows)).head()
    assert(out.getAs[Double]("se_iid") === 0.0)
    assert(out.getAs[Double]("se_hac") === 0.0)
    assert(out.isNullAt(out.fieldIndex("hac_over_iid")))
  }

  private def liOrdersPartDir(
      li: Seq[(Long, Long, Long)], orders: Seq[(Long, String)],
      parts: Seq[(Long, String)]): String = {
    import spark.implicits._
    val dir = tempDir("r14xyz").toString
    li.toDF("l_orderkey", "l_partkey", "l_quantity")
      .write.mode("overwrite").parquet(s"$dir/lineitem.parquet")
    orders.toDF("o_orderkey", "__d")
      .withColumn("o_orderdate", to_date(col("__d"))).drop("__d")
      .write.mode("overwrite").parquet(s"$dir/orders.parquet")
    parts.toDF("p_partkey", "p_brand")
      .write.mode("overwrite").parquet(s"$dir/part.parquet")
    dir
  }

  test("q_xyz_analysis: constant, mixed and one-shot demand split X/Y/Z") {
    // weeks 0..3; A: 10 each week (CV 0 → X); C: 10,10,0,0 (CV = 1
    // → Y boundary); B: 10,0,0,0 (CV² = 3 → Z)
    val orders = (0 until 4).map(w =>
      ((w + 1).toLong, s"1992-01-${"%02d".format(1 + 7 * w)}"))
    val li = Seq(
      (1L, 1L, 10L), (2L, 1L, 10L), (3L, 1L, 10L), (4L, 1L, 10L),
      (1L, 2L, 10L), (2L, 2L, 10L),
      (1L, 3L, 10L))
    val parts = Seq((1L, "Brand#A"), (2L, "Brand#C"), (3L, "Brand#B"))
    val out = byName("q_xyz_analysis")(
        spark, liOrdersPartDir(li, orders, parts))
      .collect().map(r => r.getAs[String]("xyz_class") ->
        (r.getAs[Long]("n_brands"), r.getAs[Long]("share_ppm"))).toMap
    assert(out("X") === ((1L, 333333L)))
    assert(out("Y") === ((1L, 333333L)))
    assert(out("Z") === ((1L, 333333L)))
  }

  test("q_energy_changepoint: a level shift is split exactly at the jump") {
    // 10 days at 10 then 10 days at 100: the maximal between-segment
    // energy distance sits at the boundary (tau = index 9)
    val rows = (0 until 20).map(di =>
      (day0 + di * dayUs, di.toLong, "view",
        if (di < 10) 10.0 else 100.0))
    val out = byName("q_energy_changepoint")(spark, eventsDir(rows)).head()
    assert(out.getAs[Long]("n_days") === 20L)
    assert(out.getAs[Long]("tau_idx") === 9L)
    assert(out.getAs[String]("split_day") === "2024-01-10")
    assert(out.getAs[Long]("n_left") === 10L)
    assert(out.getAs[Long]("n_right") === 10L)
    // within-segment distances are 0, cross = 90.00 → E = 2·90 = 180
    assert(out.getAs[Double]("e_stat") === 180.0)
    assert(out.getAs[Double]("q_stat") === 900.0)
  }

  test("q_energy_changepoint: sf0.001 picks an interior split with Q >= 0") {
    val out = byName("q_energy_changepoint")(
      spark, "/root/testdata/sf0.001").head()
    val tau = out.getAs[Long]("tau_idx")
    assert(tau >= 1L && tau <= out.getAs[Long]("n_days") - 3)
    assert(out.getAs[Long]("n_left") + out.getAs[Long]("n_right") ===
      out.getAs[Long]("n_days"))
  }

  test("mm_audio_snr: the dropout span always costs measurable energy") {
    val out = byName("mm_audio_snr")(spark, "/root/testdata/sf0.001")
      .collect()
    assert(out.length === 200)
    out.foreach { r =>
      assert(r.getAs[Long]("e_noise") > 0L)
      assert(r.getAs[Long]("e_signal") > r.getAs[Long]("e_noise"))
      assert(r.getAs[Double]("snr_db") > 0.0)
    }
  }

  test("mm_image_dhash: every injected variant pair is recovered") {
    val out = byName("mm_image_dhash")(spark, "/root/testdata/sf0.001")
      .collect()
      .map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b"))).toSet
    val expected = (0L until 200L by 4).map(id => (id, id + 1000000L))
    expected.foreach(p => assert(out.contains(p), s"missing variant pair $p"))
  }

  test("mm_audio_pitch: the Goertzel scan recovers every generator frequency") {
    // makeWav seeds freq = 110 + (id % 880); the detector must round-
    // trip it through the real WAV codec for ALL 200 clips
    val out = byName("mm_audio_pitch")(spark, "/root/testdata/sf0.001")
      .collect()
    assert(out.length === 200)
    out.foreach { r =>
      val id = r.getAs[Long]("media_id")
      assert(r.getAs[Long]("freq_hz") === 110L + id % 880L,
        s"media_id $id")
    }
  }

  test("emb_dunn_index: sf0.001 index is positive with sane extremes") {
    val out = byName("emb_dunn_index")(spark, "/root/testdata/sf0.001").head()
    assert(out.getAs[Long]("k_cells") === 16L)
    assert(out.getAs[Long]("n_vecs") > 0L)
    assert(out.getAs[Long]("min_inter_e6") > 0L)
    assert(out.getAs[Long]("max_intra_e6") > 0L)
    assert(out.getAs[Long]("dunn_ppm") > 0L)
  }
}
