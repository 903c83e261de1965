package graft.queries

import graft.GraftSpec
import org.apache.spark.sql.functions._

/** Laws for the round-11 session-4 continuation kernels. Each law pins
  * a closed-form fixture outcome a same-formula-on-both-engines slip
  * could not fake (ramp → FD exactly 1, ramp → zero mobility, AM-GM
  * flatness bound), plus sf0.001 range sanity. */
class R13QueriesSpec extends GraftSpec {

  private def byName(name: String) = R13Queries.defs.find(_.name == name).get.fn

  /** events.parquet with one row per (day-index, count) pair: `cnt`
    * events on day `di`. */
  private def dailyDir(counts: Seq[Int]): String = {
    import spark.implicits._
    val dir = tempDir("r13ev").toString
    val day0 = 1704067200000000L // 2024-01-01 UTC micros
    counts.zipWithIndex.flatMap { case (cnt, di) =>
      (0 until cnt).map { j =>
        ((di * 100 + j).toLong, day0 + di * 86400000000L + j * 1000000L,
          j.toLong, "view", 1.0, "{}")
      }
    }.toDF("event_id", "__us", "user_id", "event_type", "value", "props")
      .withColumn("ts", timestamp_micros(col("__us"))).drop("__us")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    dir
  }

  test("q_hjorth_params: linear ramp has zero mobility") {
    // y = 1..12 → d1 ≡ 1 → var(d1) = 0 → mobility = 0
    val out = byName("q_hjorth_params")(spark, dailyDir(1 to 12)).head()
    assert(out.getAs[Long]("n_days") === 12L)
    assert(out.getAs[Double]("mobility") === 0.0)
    assert(out.isNullAt(out.fieldIndex("complexity"))) // 0/0 guarded
  }

  test("q_hjorth_params: sf0.001 activity positive, complexity finite") {
    val out = byName("q_hjorth_params")(spark, "/root/testdata/sf0.001").head()
    assert(out.getAs[Double]("activity") > 0.0)
    assert(out.getAs[Double]("mobility") > 0.0)
    assert(!out.getAs[Double]("complexity").isNaN)
  }

  test("q_spectral_entropy: flatness obeys AM-GM and entropy is in (0,1]") {
    val out =
      byName("q_spectral_entropy")(spark, "/root/testdata/sf0.001").head()
    val h = out.getAs[Double]("spectral_entropy")
    val f = out.getAs[Double]("spectral_flatness")
    assert(h > 0.0 && h <= 1.0)
    assert(f > 0.0 && f <= 1.0 + 1e-9)
    assert(out.getAs[Long]("n_periods") === 13L)
  }

  test("q_spectral_entropy: strong period-7 signal is peaked (low entropy)") {
    // 4 weeks of a hard weekly rhythm: one spike day per week
    val counts = (0 until 28).map(i => if (i % 7 == 0) 60 else 2)
    val out = byName("q_spectral_entropy")(spark, dailyDir(counts)).head()
    assert(out.getAs[Double]("spectral_entropy") < 0.8)
    assert(out.getAs[Double]("spectral_flatness") < 0.5)
  }

  test("q_higuchi_fd: a linear ramp has dimension exactly 1") {
    // |y_{t+k} − y_t| = k ⇒ L(m,k) = (n−1)/k ⇒ ln L = c − ln k ⇒ FD = 1
    val out = byName("q_higuchi_fd")(spark, dailyDir(1 to 16)).head()
    assert(out.getAs[Long]("n_scales") === 4L)
    assert(out.getAs[Double]("higuchi_fd") === 1.0)
  }

  test("q_higuchi_fd: sf0.001 dimension lands in the curve range [1,2]") {
    val out = byName("q_higuchi_fd")(spark, "/root/testdata/sf0.001").head()
    val fd = out.getAs[Double]("higuchi_fd")
    assert(fd >= 0.9 && fd <= 2.1)
  }

  test("q_ar2_yule_walker: alternating series gives negative phi1") {
    // y alternates 2,8 → lag-1 autocorrelation ≈ −1 → AR pull-back
    val counts = (0 until 14).map(i => if (i % 2 == 0) 2 else 8)
    val out = byName("q_ar2_yule_walker")(spark, dailyDir(counts)).head()
    assert(out.getAs[Double]("r1") < -0.5)
    assert(out.getAs[Double]("phi1") < 0.0)
  }

  test("q_ar2_yule_walker: sf0.001 stationarity sanity") {
    val out =
      byName("q_ar2_yule_walker")(spark, "/root/testdata/sf0.001").head()
    assert(math.abs(out.getAs[Double]("r1")) <= 1.0)
    assert(math.abs(out.getAs[Double]("r2")) <= 1.0)
    assert(out.getAs[Double]("innovation_var") >= 0.0)
  }

  /** 10 days at 2 events, 10 days at 50: a hard level shift after
    * day 10 — every changepoint test must localize it exactly. */
  private lazy val stepDir =
    dailyDir(Seq.fill(10)(2) ++ Seq.fill(10)(50))

  test("q_pettitt_changepoint: step series gives K = 100 at day 10") {
    // both halves are full ties → U_t = −10t for t ≤ 10, so
    // K = |U_10| = 100 and p = 2·exp(−6·100²/(20³+20²)) ≈ 0.00157
    val out = byName("q_pettitt_changepoint")(spark, stepDir).head()
    assert(out.getAs[Long]("k_stat") === 100L)
    assert(out.getAs[String]("cp_day") === "2024-01-10")
    assert(out.getAs[Double]("p_approx") < 0.01)
  }

  test("q_pettitt_changepoint: sf0.001 statistic within the U bound") {
    val out =
      byName("q_pettitt_changepoint")(spark, "/root/testdata/sf0.001").head()
    val n = out.getAs[Long]("n_days")
    assert(out.getAs[Long]("k_stat") <= n * n / 2)
    val p = out.getAs[Double]("p_approx")
    assert(p >= 0.0 && p <= 1.0)
  }

  test("q_snht_buishand: perfect split reaches SNHT max T = n") {
    // closed form: B_10 = −4800, nQ−S² = 230400 → T_10 = 20 = n;
    // Buishand R/√n = (240/24)/√20 = 2.236068
    val out = byName("q_snht_buishand")(spark, stepDir).head()
    assert(out.getAs[Double]("snht_t") === 20.0)
    assert(out.getAs[String]("snht_day") === "2024-01-10")
    assert(out.getAs[Double]("buishand_rn") === 2.236068)
  }

  test("q_snht_buishand: sf0.001 statistics are positive and bounded") {
    val out =
      byName("q_snht_buishand")(spark, "/root/testdata/sf0.001").head()
    val n = out.getAs[Long]("n_days")
    val t = out.getAs[Double]("snht_t")
    assert(t > 0.0 && t <= n.toDouble)
    assert(out.getAs[Double]("buishand_rn") > 0.0)
  }

  test("q_bartels_rank: monotone ramp has RVN = 12/(n(n+1)) and rejects") {
    // distinct ranks 1..12: num4 = 44, den4 = 572 → 0.076923
    val out = byName("q_bartels_rank")(spark, dailyDir(1 to 12)).head()
    assert(out.getAs[Double]("rvn") === 0.076923)
    assert(out.getAs[Double]("z") < -1.96)
    assert(out.getAs[Boolean]("reject_05"))
  }

  test("q_bartels_rank: sf0.001 RVN lands in (0, 4)") {
    val out =
      byName("q_bartels_rank")(spark, "/root/testdata/sf0.001").head()
    val rvn = out.getAs[Double]("rvn")
    assert(rvn > 0.0 && rvn < 4.0)
  }

  test("q_binseg_depth2: step series — full gain at day 10, zero below") {
    // SSE(whole) = 25040 − 520²/20 = 11520, halves constant → SSE 0
    val rows = byName("q_binseg_depth2")(spark, stepDir)
      .orderBy("lvl", "a_day").collect()
    assert(rows.length === 3)
    val l1 = rows(0)
    assert(l1.getAs[Long]("lvl") === 1L)
    assert(l1.getAs[String]("cp_day") === "2024-01-10")
    assert(l1.getAs[Double]("gain") === 11520.0)
    // constant halves: no split helps, tie → earliest candidate day
    assert(rows(1).getAs[Double]("gain") === 0.0)
    assert(rows(1).getAs[String]("cp_day") === "2024-01-01")
    assert(rows(2).getAs[Double]("gain") === 0.0)
    assert(rows(2).getAs[String]("cp_day") === "2024-01-11")
  }

  test("q_binseg_depth2: sf0.001 yields 3 nested segments, gains ≥ 0") {
    val rows = byName("q_binseg_depth2")(spark, "/root/testdata/sf0.001")
      .collect()
    assert(rows.length === 3)
    assert(rows.forall(_.getAs[Double]("gain") >= 0.0))
    val l1 = rows.find(_.getAs[Long]("lvl") == 1L).get
    val cps2 = rows.filter(_.getAs[Long]("lvl") == 2L)
      .map(_.getAs[String]("cp_day"))
    // level-2 changepoints bracket the level-1 one
    val cp1 = l1.getAs[String]("cp_day")
    assert(cps2.exists(_ <= cp1) && cps2.exists(_ > cp1))
  }

  test("q_crps_climatology: ramp has CRPS 280/98 and ensemble MAE 4") {
    // day t, ensemble {t−7..t−1}: Σ|m−y| = 28, Σ_{i<j}|m_i−m_j| = 56
    // → 98·CRPS = 14·28 − 2·56 = 280 per day, exactly
    val out = byName("q_crps_climatology")(spark, dailyDir(1 to 12)).head()
    assert(out.getAs[Long]("n_days") === 5L)
    assert(out.getAs[Double]("mean_crps") === 2.857143)
    assert(out.getAs[Double]("mean_ens_mae") === 4.0)
  }

  test("q_crps_climatology: sf0.001 CRPS positive and below ensemble MAE") {
    val out =
      byName("q_crps_climatology")(spark, "/root/testdata/sf0.001").head()
    val crps = out.getAs[Double]("mean_crps")
    assert(crps > 0.0)
    // kernel form: CRPS = E|X−y| − E|X−X'|/2 ≤ E|X−y|
    assert(crps <= out.getAs[Double]("mean_ens_mae"))
  }

  private lazy val weeklyDir =
    dailyDir(Seq.fill(3)(Seq(2, 5, 3, 8, 4, 9, 6)).flatten)

  test("q_diebold_mariano: exact weekly rhythm — seasonal MAE 0, DM < 0") {
    val out = byName("q_diebold_mariano")(spark, weeklyDir).head()
    assert(out.getAs[Long]("n_obs") === 14L)
    assert(out.getAs[Double]("mae_seasonal") === 0.0)
    assert(out.getAs[Double]("mae_naive") > 0.0)
    assert(out.getAs[Double]("dm_stat") < -2.0)
  }

  test("q_diebold_mariano: sf0.001 MAEs positive, DM finite") {
    val out =
      byName("q_diebold_mariano")(spark, "/root/testdata/sf0.001").head()
    assert(out.getAs[Double]("mae_seasonal") > 0.0)
    assert(out.getAs[Double]("mae_naive") > 0.0)
    assert(!out.getAs[Double]("dm_stat").isNaN)
  }

  test("q_pesaran_timmermann: exact weekly rhythm predicts every sign") {
    // y_t = y_{t−7} → sign(ŷ_t − y_{t−1}) = sign(y_t − y_{t−1})
    val out = byName("q_pesaran_timmermann")(spark, weeklyDir).head()
    assert(out.getAs[Double]("hit_rate") === 1.0)
    assert(out.getAs[Double]("pt_stat") > 2.0)
  }

  test("q_pesaran_timmermann: sf0.001 rates in range") {
    val out =
      byName("q_pesaran_timmermann")(spark, "/root/testdata/sf0.001").head()
    val h = out.getAs[Double]("hit_rate")
    val i = out.getAs[Double]("indep_rate")
    assert(h >= 0.0 && h <= 1.0)
    assert(i > 0.0 && i < 1.0)
  }

  /** events.parquet with one row per (user, day-index, type, value). */
  private def typedDir(rows: Seq[(Long, Int, String, Double)]): String = {
    import spark.implicits._
    val dir = tempDir("r13ty").toString
    val day0 = 1704067200000000L // 2024-01-01 UTC micros
    rows.zipWithIndex.map { case ((uid, di, tp, v), j) =>
      (j.toLong, day0 + di * 86400000000L + j * 1000000L, uid, tp, v, "{}")
    }.toDF("event_id", "__us", "user_id", "event_type", "value", "props")
      .withColumn("ts", timestamp_micros(col("__us"))).drop("__us")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    dir
  }

  test("q_welch_anova: two equal-mean groups give W = 0, df2 = 2") {
    // both groups {0.001, 0.003}: w_i = 1, means equal → A = 0;
    // H = 2·(1 − 1/2)²/1 = 0.5 → df2 = (k²−1)/(3H) = 2
    val dir = typedDir(Seq((0L, 0, "click", 0.001), (1L, 0, "click", 0.003),
      (2L, 0, "view", 0.001), (3L, 0, "view", 0.003)))
    val out = byName("q_welch_anova")(spark, dir).head()
    assert(out.getAs[Long]("k_groups") === 2L)
    assert(out.getAs[Double]("w_stat") === 0.0)
    assert(out.getAs[Long]("df1") === 1L)
    assert(out.getAs[Double]("df2") === 2.0)
  }

  test("q_welch_anova: sf0.001 W and df2 positive, 5 groups") {
    val out = byName("q_welch_anova")(spark, "/root/testdata/sf0.001").head()
    assert(out.getAs[Long]("k_groups") === 5L)
    assert(out.getAs[Double]("w_stat") >= 0.0)
    assert(out.getAs[Double]("df2") > 0.0)
  }

  test("q_hotelling_t2: identical half-means give T² = 0") {
    // daily (views, clicks): (2,1),(3,2) | (2,2),(3,1) — equal half
    // means, pooled SS = [1 0; 0 1] (non-singular) → T² = 0
    val perDay = Seq((2, 1), (3, 2), (2, 2), (3, 1))
    val rows = perDay.zipWithIndex.flatMap { case ((nv, nc), di) =>
      Seq.fill(nv)((0L, di, "view", 0.5)) ++
        Seq.fill(nc)((1L, di, "click", 0.5))
    }
    val out = byName("q_hotelling_t2")(spark, typedDir(rows)).head()
    assert(out.getAs[Long]("n1") === 2L)
    assert(out.getAs[Long]("n2") === 2L)
    assert(out.getAs[Double]("t2_stat") === 0.0)
  }

  test("q_hotelling_t2: sf0.001 T² and F finite and non-negative") {
    val out = byName("q_hotelling_t2")(spark, "/root/testdata/sf0.001").head()
    val t2 = out.getAs[Double]("t2_stat")
    assert(t2 >= 0.0 && !t2.isNaN)
    assert(out.getAs[Double]("f_stat") <= t2)
  }

  test("q_dunn_posthoc: two clean-rank groups hit the closed-form z") {
    // click {1,2}, view {3,4} (millis): ranks 1..4, no ties →
    // z = (1.5 − 3.5)/√((20/12)·1) = −1.549193
    val dir = typedDir(Seq((0L, 0, "click", 0.001), (1L, 0, "click", 0.002),
      (2L, 0, "view", 0.003), (3L, 0, "view", 0.004)))
    val out = byName("q_dunn_posthoc")(spark, dir).head()
    assert(out.getAs[String]("g_a") === "click")
    assert(out.getAs[Double]("mean_rank_a") === 1.5)
    assert(out.getAs[Double]("mean_rank_b") === 3.5)
    assert(out.getAs[Double]("z") === -1.5492)
    assert(!out.getAs[Boolean]("reject_bonf05"))
  }

  test("q_dunn_posthoc: sf0.001 emits all 10 pairs, z antisymmetry sign") {
    val rows = byName("q_dunn_posthoc")(spark, "/root/testdata/sf0.001")
      .collect()
    assert(rows.length === 10)
    rows.foreach { r =>
      val sign = math.signum(r.getAs[Double]("mean_rank_a") -
        r.getAs[Double]("mean_rank_b"))
      val z = r.getAs[Double]("z")
      assert(z === 0.0 || math.signum(z) === sign)
    }
  }

  test("q_poisson_gof: 2×2 spine with one double-purchase cell") {
    // cells = 4, sk = 2 → λ = 0.5; vr = (4 − 1)/3 = 1 →
    // dispersion 2, NB MoM r = 0.25/0.5 = 0.5, p = 0.5
    val dir = typedDir(Seq((0L, 0, "purchase", 0.5),
      (0L, 0, "purchase", 0.7), (1L, 7, "view", 0.2)))
    val out = byName("q_poisson_gof")(spark, dir).head()
    assert(out.getAs[Long]("n_cells") === 4L)
    assert(out.getAs[Double]("lambda_hat") === 0.5)
    assert(out.getAs[Double]("dispersion") === 2.0)
    assert(out.getAs[Double]("nb_r") === 0.5)
    assert(out.getAs[Double]("nb_p") === 0.5)
  }

  test("q_poisson_gof: sf0.001 χ² non-negative, dispersion positive") {
    val out = byName("q_poisson_gof")(spark, "/root/testdata/sf0.001").head()
    assert(out.getAs[Double]("chisq") >= 0.0)
    assert(out.getAs[Double]("dispersion") > 0.0)
    assert(out.getAs[Double]("lambda_hat") > 0.0)
  }

  /** lineitem.parquet + part.parquet from brand-labelled baskets; the
    * co-purchase artifact derives edges from pairs appearing in ≥2
    * baskets. */
  private def basketDir(baskets: Seq[Seq[Int]],
      brand: Int => String = p => s"B$p"): String = {
    import spark.implicits._
    val dir = tempDir("r13bk").toString
    baskets.zipWithIndex.flatMap { case (ps, oid) =>
      ps.map(p => (oid.toLong, p.toLong))
    }.toDF("l_orderkey", "l_partkey")
      .write.mode("overwrite").parquet(s"$dir/lineitem.parquet")
    baskets.flatten.distinct.map(p => (p.toLong, brand(p)))
      .toDF("p_partkey", "p_brand")
      .write.mode("overwrite").parquet(s"$dir/part.parquet")
    dir
  }

  /** Each undirected edge shipped as two 2-part baskets (clears the
    * co-purchase artifact's w ≥ 2 support bar). */
  private def edgeBaskets(edges: Seq[(Int, Int)]): Seq[Seq[Int]] =
    edges.flatMap { case (a, b) => Seq(Seq(a, b), Seq(a, b)) }

  test("q_katz_centrality: triangle graph converges to the closed form") {
    // deg ≡ 2: x1 = 2e9/8, x2 = 2(1e9+x1)/8, x3 = 2(1e9+x2)/8
    val dir = basketDir(edgeBaskets(Seq((1, 2), (1, 3), (2, 3))))
    val rows = byName("q_katz_centrality")(spark, dir).collect()
    assert(rows.length === 3)
    assert(rows.forall(_.getAs[Long]("katz") === 328125000L))
  }

  test("q_katz_centrality: sf0.001 top-20 is sorted and positive") {
    val rows =
      byName("q_katz_centrality")(spark, "/root/testdata/sf0.001").collect()
    assert(rows.length === 20)
    val ks = rows.map(_.getAs[Long]("katz"))
    assert(ks.zip(ks.tail).forall { case (a, b) => a >= b })
    assert(ks.forall(_ > 0L))
  }

  test("q_ktruss4: one triangle peels away, K4 survives intact") {
    // triangle: every edge in 1 triangle < 2 → empty 4-truss
    val tri = basketDir(edgeBaskets(Seq((1, 2), (1, 3), (2, 3))))
    val o1 = byName("q_ktruss4")(spark, tri).head()
    assert(o1.getAs[Long]("truss_edges") === 0L)
    assert(o1.getAs[Long]("truss_nodes") === 0L)
    // K4: every edge in 2 triangles → the whole clique survives
    val k4 = basketDir(edgeBaskets(
      Seq((1, 2), (1, 3), (1, 4), (2, 3), (2, 4), (3, 4))))
    val o2 = byName("q_ktruss4")(spark, k4).head()
    assert(o2.getAs[Long]("truss_edges") === 6L)
    assert(o2.getAs[Long]("truss_nodes") === 4L)
    assert(o2.getAs[Long]("max_degree") === 3L)
  }

  test("q_adamic_adar: path graph scores the endpoints 1/ln 2") {
    val dir = basketDir(edgeBaskets(Seq((1, 2), (2, 3))))
    val rows = byName("q_adamic_adar")(spark, dir).collect()
    assert(rows.length === 1)
    assert(rows.head.getAs[Long]("a") === 1L)
    assert(rows.head.getAs[Long]("c") === 3L)
    assert(math.abs(rows.head.getAs[Double]("aa_score") -
      1.0 / math.log(2.0)) < 1e-8)
    assert(rows.head.getAs[Long]("common_neighbors") === 1L)
  }

  test("q_adamic_adar: sf0.001 predictions exclude existing edges") {
    val dir = "/root/testdata/sf0.001"
    val preds = byName("q_adamic_adar")(spark, dir)
    val e = spark.read.parquet(
      SqlQueries.copurchaseEdgesOf(spark, dir))
    assert(preds.join(e,
      preds("a") === e("p1") && preds("c") === e("p2")).count() === 0L)
    assert(preds.count() === 20L)
  }

  test("q_assoc_rules: two-brand fixture hits exact support/conf/lift") {
    // baskets: {A,B}, {A,B}, {A}, {B} → n=4, ca=cb=3, cab=2
    val dir = basketDir(Seq(Seq(1, 2), Seq(1, 2), Seq(1), Seq(2)),
      p => if (p == 1) "BrandA" else "BrandB")
    val rows = byName("q_assoc_rules")(spark, dir).collect()
    assert(rows.length === 2)
    rows.foreach { r =>
      assert(r.getAs[Long]("support_ppm") === 500000L)
      assert(r.getAs[Long]("confidence_ppm") === 666666L)
      assert(r.getAs[Double]("lift") === 0.888889)
    }
  }

  test("q_assoc_rules: sf0.001 rules have lift > 0 and valid ppm ranges") {
    val rows =
      byName("q_assoc_rules")(spark, "/root/testdata/sf0.001").collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getAs[Long]("support_ppm") >= 10000L) // ≥1% bar
      assert(r.getAs[Long]("confidence_ppm") <= 1000000L)
      assert(r.getAs[Double]("lift") > 0.0)
    }
  }

  test("q_getis_ord: a single hot cell lights itself and its 4 neighbors") {
    // 100 events, all Monday (2024-01-01) hour 0 → the hot cell and
    // its rook neighbors all see nsum = 100; everything else ~0
    val rows = byName("q_getis_ord")(spark, dailyDir(Seq(100))).collect()
    assert(rows.length === 10)
    val hot = rows.take(5)
    assert(hot.forall(_.getAs[Long]("nsum") === 100L))
    assert(hot.forall(_.getAs[Double]("gi_z") > 5.0))
    assert(hot.map(_.getAs[Double]("gi_z")).distinct.length === 1)
    assert(hot.exists(r =>
      r.getAs[Long]("dw") === 1L && r.getAs[Long]("hr") === 0L))
  }

  test("q_getis_ord: sf0.001 z-scores are finite, sorted by |z|") {
    val rows = byName("q_getis_ord")(spark, "/root/testdata/sf0.001")
      .collect()
    assert(rows.length === 10)
    val zs = rows.map(r => math.abs(r.getAs[Double]("gi_z")))
    assert(zs.zip(zs.tail).forall { case (a, b) => a >= b })
    assert(zs.forall(z => !z.isNaN && !z.isInfinite))
  }

  test("q_ripley_k: 3 points a second apart — all 6 ordered pairs, K = T") {
    // T = 2 s, every |Δ| ≤ 60 s → K̂(h) = 2·6/(3·2) = 2 for every h
    val rows = byName("q_ripley_k")(spark, dailyDir(Seq(3))).collect()
    assert(rows.length === 3)
    rows.foreach { r =>
      assert(r.getAs[Long]("pairs") === 6L)
      assert(r.getAs[Double]("k_hat") === 2.0)
    }
    assert(rows.map(_.getAs[Long]("h_sec")).toSeq === Seq(60L, 300L, 3600L))
  }

  test("q_ripley_k_grid: equals the µs-exact twin on whole-second data") {
    // fixture events land on exact seconds, so second-grid pair
    // counts must match the µs-banded join pair-for-pair
    val dir = dailyDir(Seq(5, 2, 7))
    val exact = byName("q_ripley_k")(spark, dir)
      .select("h_sec", "pairs").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    val grid = byName("q_ripley_k_grid")(spark, dir)
      .select("h_sec", "pairs").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(grid === exact)
  }

  test("q_ripley_k_grid: sf0.001 pair counts nest with the radius") {
    val rows = byName("q_ripley_k_grid")(spark, "/root/testdata/sf0.001")
      .collect().sortBy(_.getAs[Long]("h_sec"))
    val p = rows.map(_.getAs[Long]("pairs"))
    assert(p(0) <= p(1) && p(1) <= p(2))
  }

  test("q_ripley_k: sf0.001 pair counts nest with the radius") {
    val rows = byName("q_ripley_k")(spark, "/root/testdata/sf0.001")
      .collect().sortBy(_.getAs[Long]("h_sec"))
    val p = rows.map(_.getAs[Long]("pairs"))
    assert(p(0) <= p(1) && p(1) <= p(2))
    assert(rows.forall(_.getAs[Double]("k_hat") >= 0.0))
  }

  test("q_visibility_graph: valley sees across, peak blocks") {
    // y = [3,1,5]: (0,2) clears the sight line → 3 edges
    val o1 = byName("q_visibility_graph")(spark, dailyDir(Seq(3, 1, 5)))
      .head()
    assert(o1.getAs[Long]("n_edges") === 3L)
    assert(o1.getAs[Long]("max_degree") === 2L)
    // y = [1,5,2]: the peak at t=1 blocks (0,2) → only adjacent edges
    val o2 = byName("q_visibility_graph")(spark, dailyDir(Seq(1, 5, 2)))
      .head()
    assert(o2.getAs[Long]("n_edges") === 2L)
  }

  test("q_visibility_graph: sf0.001 adjacent-edge floor and degree bounds") {
    val out = byName("q_visibility_graph")(spark, "/root/testdata/sf0.001")
      .head()
    val n = out.getAs[Long]("n_nodes")
    val e = out.getAs[Long]("n_edges")
    // adjacent days are always mutually visible; complete graph caps it
    assert(e >= n - 1 && e <= n * (n - 1) / 2)
    assert(out.getAs[Long]("max_degree") < n)
  }

  test("q_recurrence_quant: constant series — everything recurs, halves run") {
    // eps = 0, all 6 pairs recurrent; 3 of 6 extend diagonally and
    // 3 of 6 vertically → DET₂ = LAM₂ = 0.5, RR = 12/16
    val out = byName("q_recurrence_quant")(spark, dailyDir(Seq.fill(4)(5)))
      .head()
    assert(out.getAs[Long]("eps") === 0L)
    assert(out.getAs[Long]("n_recur") === 6L)
    assert(out.getAs[Double]("rr") === 0.75)
    assert(out.getAs[Double]("det2_frac") === 0.5)
    assert(out.getAs[Double]("lam2_frac") === 0.5)
  }

  test("q_dagostino_k2: symmetric sample has exactly zero skew z") {
    // vm = 1500..25500 step 1000, symmetric → m3 = 0 exactly → Z1 = 0
    val dir = typedDir((1 to 25).map(i => (0L, 0, "view", i + 0.5)))
    val out = byName("q_dagostino_k2")(spark, dir).head()
    assert(out.getAs[Long]("n") === 25L)
    assert(out.getAs[Double]("skew") === 0.0)
    assert(out.getAs[Double]("z_skew") === 0.0)
    // uniform sample is platykurtic
    assert(out.getAs[Double]("ex_kurtosis") < 0.0)
    val zk = out.getAs[Double]("z_kurt")
    assert(math.abs(out.getAs[Double]("k2_stat") - zk * zk) < 1e-3)
  }

  test("q_dagostino_k2: sf0.001 statistic is non-negative and finite") {
    val out = byName("q_dagostino_k2")(spark, "/root/testdata/sf0.001")
      .head()
    val k2 = out.getAs[Double]("k2_stat")
    assert(k2 >= 0.0 && !k2.isNaN && !k2.isInfinite)
  }

  test("q_brunner_munzel: identical samples give p̂ = ½, W = 0, df = 2") {
    val dir = typedDir(Seq((0L, 0, "purchase", 0.0015),
      (1L, 0, "purchase", 0.0025), (2L, 0, "click", 0.0015),
      (3L, 0, "click", 0.0025)))
    val out = byName("q_brunner_munzel")(spark, dir).head()
    assert(out.getAs[Double]("p_hat") === 0.5)
    assert(out.getAs[Double]("w_stat") === 0.0)
    assert(out.getAs[Double]("df") === 2.0)
  }

  test("q_brunner_munzel: sf0.001 p̂ in (0,1), finite W") {
    val out = byName("q_brunner_munzel")(spark, "/root/testdata/sf0.001")
      .head()
    val p = out.getAs[Double]("p_hat")
    assert(p > 0.0 && p < 1.0)
    assert(!out.getAs[Double]("w_stat").isNaN)
  }

  test("q_cucconi: mirror-symmetric samples give U = V") {
    // both groups {1.5, 2.5} millis: the rank multiset is symmetric
    // around (N+1)/2, so contrary-rank squares equal rank squares
    val dir = typedDir(Seq((0L, 0, "purchase", 0.0015),
      (1L, 0, "purchase", 0.0025), (2L, 0, "click", 0.0015),
      (3L, 0, "click", 0.0025)))
    val out = byName("q_cucconi")(spark, dir).head()
    assert(out.getAs[Double]("u_stat") === out.getAs[Double]("v_stat"))
    assert(out.getAs[Double]("c_stat") >= 0.0)
  }

  test("q_cucconi: sf0.001 C is non-negative and finite") {
    val out = byName("q_cucconi")(spark, "/root/testdata/sf0.001").head()
    val c = out.getAs[Double]("c_stat")
    assert(c >= 0.0 && !c.isNaN && !c.isInfinite)
  }

  test("q_quade_test: one dominant treatment hits the closed-form F") {
    // 3 all-view days (3,4,5 events): T table gives B = 2880,
    // A = 1120 → F = 2·2880/(3·1120 − 2880) = 12
    val out = byName("q_quade_test")(spark, dailyDir(Seq(3, 4, 5))).head()
    assert(out.getAs[Long]("n_days") === 3L)
    assert(out.getAs[Double]("f_stat") === 12.0)
    assert(out.getAs[Long]("df1") === 4L)
    assert(out.getAs[Long]("df2") === 8L)
  }

  test("q_quade_test: sf0.001 F positive, df2 = 4(n−1)") {
    val out = byName("q_quade_test")(spark, "/root/testdata/sf0.001")
      .head()
    assert(out.getAs[Double]("f_stat") > 0.0)
    assert(out.getAs[Long]("df2") ===
      (out.getAs[Long]("n_days") - 1L) * 4L)
  }

  test("q_zip_fit: one triple-purchase cell hits the MoM closed form") {
    // cells = 4, m = 0.75, s² = 2.25 → λ̂ = 2.75, π̂ = 1 − 3/11
    val dir = typedDir(Seq((0L, 0, "purchase", 0.5),
      (0L, 0, "purchase", 0.6), (0L, 0, "purchase", 0.7),
      (1L, 7, "view", 0.2)))
    val out = byName("q_zip_fit")(spark, dir).head()
    assert(out.getAs[Long]("n_cells") === 4L)
    assert(out.getAs[Double]("lambda_zip") === 2.75)
    assert(out.getAs[Double]("pi_zip") === 0.727273)
    assert(out.getAs[Double]("zero_obs") === 0.75)
    val zf = out.getAs[Double]("zero_fit")
    assert(zf > 0.727273 && zf < 1.0)
  }

  test("q_zip_fit: sf0.001 zero fractions agree to first order") {
    val out = byName("q_zip_fit")(spark, "/root/testdata/sf0.001").head()
    val obs = out.getAs[Double]("zero_obs")
    val fit = out.getAs[Double]("zero_fit")
    assert(obs > 0.0 && obs < 1.0)
    // ZIP matches the first two moments; the zero class should be close
    assert(math.abs(obs - fit) < 0.2)
  }

  test("q_mean_excess: uniform 1..10 ladder gives the exact excess means") {
    val dir = typedDir((1 to 10).map(i => (0L, 0, "view", i + 0.5)))
    val rows = byName("q_mean_excess")(spark, dir).collect()
    assert(rows.length === 3)
    val byP = rows.map(r => r.getAs[Long]("pct") ->
      (r.getAs[Long]("threshold"), r.getAs[Long]("n_exceed"),
        r.getAs[Double]("mean_excess"))).toMap
    assert(byP(50L) === ((5500L, 5L, 3000.0)))
    assert(byP(75L) === ((8500L, 2L, 1500.0)))
    assert(byP(90L) === ((9500L, 1L, 1000.0)))
  }

  test("q_mean_excess: sf0.001 excess means decrease with the threshold") {
    val rows = byName("q_mean_excess")(spark, "/root/testdata/sf0.001")
      .collect().sortBy(_.getAs[Long]("pct"))
    assert(rows.length === 3)
    // bounded support ⇒ shrinking residual life
    val me = rows.map(_.getAs[Double]("mean_excess"))
    assert(me(0) > me(2))
    assert(me.forall(_ > 0.0))
  }

  test("q_kernel_smooth: constant series smooths to the constant") {
    val rows = byName("q_kernel_smooth")(spark, dailyDir(Seq.fill(19)(7)))
      .collect()
    assert(rows.length === 10)
    assert(rows.forall(_.getAs[Double]("y_hat") === 7.0))
  }

  test("q_kernel_smooth: sf0.001 estimates stay inside the data range") {
    val daily = graft.sources.Tables.events(spark, "/root/testdata/sf0.001")
      .groupBy(to_date(col("ts"))).count().agg(
        min("count"), max("count")).head()
    val (lo, hi) = (daily.getLong(0).toDouble, daily.getLong(1).toDouble)
    val rows = byName("q_kernel_smooth")(spark, "/root/testdata/sf0.001")
      .collect()
    assert(rows.length === 10)
    assert(rows.forall { r =>
      val y = r.getAs[Double]("y_hat"); y >= lo && y <= hi })
  }

  /** lineitem.parquet with explicit quantity/price per part. */
  private def priceDir(rows: Seq[(Long, Double, Double)]): String = {
    import spark.implicits._
    val dir = tempDir("r13pr").toString
    rows.zipWithIndex.map { case ((pk, qty, ep), i) =>
      (i.toLong, pk, qty, ep)
    }.toDF("l_orderkey", "l_partkey", "l_quantity", "l_extendedprice")
      .write.mode("overwrite").parquet(s"$dir/lineitem.parquet")
    dir
  }

  test("q_price_elasticity: exact unit demand curve has slope −1, R² 1") {
    // qty halves as unit price doubles, revenue constant
    val dir = priceDir(Seq((1L, 100.0, 100.0), (2L, 50.0, 100.0),
      (3L, 25.0, 100.0)))
    val out = byName("q_price_elasticity")(spark, dir).head()
    assert(out.getAs[Long]("n_parts") === 3L)
    assert(out.getAs[Double]("elasticity") === -1.0)
    assert(out.getAs[Double]("r2") === 1.0)
  }

  test("q_price_elasticity: sf0.001 R² in [0,1], finite slope") {
    val out = byName("q_price_elasticity")(spark, "/root/testdata/sf0.001")
      .head()
    val r2 = out.getAs[Double]("r2")
    assert(r2 >= 0.0 && r2 <= 1.0)
    assert(!out.getAs[Double]("elasticity").isNaN)
  }

  test("q_gev_return_levels: uniform block maxima 1..5 pin k via τ₃ = 0") {
    // weekly maxima 1..5 → exact PWMs (b0,b1,b2) = (1764/5·…): l2 = 1,
    // l3 = 0 → c = 2/3 − ln2/ln3 → k = 7.859c + 2.9554c² ≈ 0.284631
    val counts = (1 to 5).flatMap(w => Seq.fill(7)(w))
    val out = byName("q_gev_return_levels")(spark, dailyDir(counts)).head()
    assert(out.getAs[Long]("n_blocks") === 5L)
    assert(math.abs(out.getAs[Double]("k_shape") - 0.284631) < 1e-4)
    assert(out.getAs[Double]("rl_10y") > out.getAs[Double]("rl_1y"))
  }

  test("q_gev_return_levels: sf0.001 return levels ordered, σ > 0") {
    val out = byName("q_gev_return_levels")(spark, "/root/testdata/sf0.001")
      .head()
    assert(out.getAs[Double]("sigma") > 0.0)
    val r1 = out.getAs[Double]("rl_1y")
    val r10 = out.getAs[Double]("rl_10y")
    assert(r10 > r1)
    assert(r1 > out.getAs[Double]("mu"))
  }

  test("q_tail_dependence: comonotone channels give λ = 1, antimonotone 0") {
    val co = typedDir((1 to 10).flatMap { i =>
      Seq.fill(i)((0L, i - 1, "view", 0.5)) ++
        Seq.fill(i)((1L, i - 1, "click", 0.5))
    })
    byName("q_tail_dependence")(spark, co).collect().foreach { r =>
      assert(r.getAs[Double]("lambda_u") === 1.0)
      assert(r.getAs[Double]("lambda_l") === 1.0)
    }
    val anti = typedDir((1 to 10).flatMap { i =>
      Seq.fill(i)((0L, i - 1, "view", 0.5)) ++
        Seq.fill(11 - i)((1L, i - 1, "click", 0.5))
    })
    byName("q_tail_dependence")(spark, anti).collect().foreach { r =>
      assert(r.getAs[Double]("lambda_u") === 0.0)
      assert(r.getAs[Double]("lambda_l") === 0.0)
    }
  }

  test("q_tail_dependence: sf0.001 λ's live in [0, 1]") {
    val rows = byName("q_tail_dependence")(spark, "/root/testdata/sf0.001")
      .collect()
    assert(rows.length === 2)
    rows.foreach { r =>
      val lu = r.getAs[Double]("lambda_u")
      val ll = r.getAs[Double]("lambda_l")
      assert(lu >= 0.0 && lu <= 1.0)
      assert(ll >= 0.0 && ll <= 1.0)
    }
  }

  test("q_seasonal_mann_kendall: monotone ramp is all-concordant") {
    // 28 days rising 1..28: within each of 7 seasons, 4 points,
    // all C(4,2) = 6 pairs concordant → S = 42; Var = 7·4·3·13/18
    val out = byName("q_seasonal_mann_kendall")(spark,
      dailyDir(1 to 28)).head()
    assert(out.getAs[Long]("s_total") === 42L)
    assert(out.getAs[Double]("var_s") === 60.6667)
    assert(out.getAs[String]("trend") === "increasing")
  }

  test("q_seasonal_mann_kendall: sf0.001 |S| bounded by total pairs") {
    val out = byName("q_seasonal_mann_kendall")(spark,
      "/root/testdata/sf0.001").head()
    assert(out.getAs[Double]("var_s") > 0.0)
    assert(!out.getAs[Double]("z").isNaN)
  }

  test("q_rate_ratio_test: 3× purchase rate jump is detected") {
    // 10 days at 2/day then 10 days at 6/day, all purchases
    val rows = (0 until 20).flatMap { di =>
      val k = if (di < 10) 2 else 6
      (0 until k).map(j => (j.toLong, di, "purchase", 0.5))
    }
    val out = byName("q_rate_ratio_test")(spark, typedDir(rows)).head()
    assert(out.getAs[Long]("x1") === 20L)
    assert(out.getAs[Long]("x2") === 60L)
    assert(out.getAs[Long]("d1") === 10L)
    assert(out.getAs[Double]("rate_ratio") === 0.333333)
    assert(out.getAs[Double]("z") < -2.0)
  }

  test("q_rate_ratio_test: sf0.001 halves partition the exposure") {
    val out = byName("q_rate_ratio_test")(spark, "/root/testdata/sf0.001")
      .head()
    assert(math.abs(out.getAs[Long]("d1") - out.getAs[Long]("d2")) <= 1L)
    assert(out.getAs[Double]("rate_ratio") > 0.0)
  }

  test("q_sax_paa8: step series maps low half to 'a', high to 'd'") {
    // 16 days: 8 at 10, 8 at 50 → segments 0-3 z = −1, 4-7 z = +1
    val rows = byName("q_sax_paa8")(spark,
      dailyDir(Seq.fill(8)(10) ++ Seq.fill(8)(50))).collect()
    assert(rows.length === 8)
    assert(rows.take(4).forall(_.getAs[String]("symbol") === "a"))
    assert(rows.drop(4).forall(_.getAs[String]("symbol") === "d"))
    assert(rows.head.getAs[Double]("paa") === 10.0)
    assert(rows.last.getAs[Double]("paa") === 50.0)
  }

  test("q_sax_paa8: sf0.001 emits 8 segments with valid letters") {
    val rows = byName("q_sax_paa8")(spark, "/root/testdata/sf0.001")
      .collect()
    assert(rows.length === 8)
    assert(rows.forall(r => Set("a", "b", "c", "d")
      .contains(r.getAs[String]("symbol"))))
  }

  test("q_gmm_em: two separated spikes are recovered by 3 EM rounds") {
    // values 0.01 (×60) and 0.9 (×40): vm ∈ {10, 900} — the mixture
    // must land means on the spikes with weights ≈ 0.6/0.4
    val rows = Seq.fill(60)((0L, 0, "view", 0.01)) ++
      Seq.fill(40)((1L, 0, "view", 0.9))
    val out = byName("q_gmm_em")(spark, typedDir(rows)).head()
    assert(math.abs(out.getAs[Double]("mu1") - 10.0) < 1.0)
    assert(math.abs(out.getAs[Double]("mu2") - 900.0) < 1.0)
    assert(math.abs(out.getAs[Double]("pi1") - 0.6) < 0.02)
  }

  test("q_gmm_em: sf0.001 yields an ordered, proper mixture") {
    val out = byName("q_gmm_em")(spark, "/root/testdata/sf0.001").head()
    val p = out.getAs[Double]("pi1")
    assert(p > 0.0 && p < 1.0)
    assert(out.getAs[Double]("mu1") < out.getAs[Double]("mu2"))
    assert(out.getAs[Double]("sigma1") > 0.0)
    assert(out.getAs[Double]("sigma2") > 0.0)
  }

  test("q_rmst: one early converter, one censored — area by hand") {
    // lifetimes: 4 (death), 20 (censor): S = 1 on [0,4), 0.5 after →
    // RMST(14) = 4 + 0.5·10 = 9
    val dir = typedDir(Seq((0L, 0, "view", 0.5), (0L, 4, "purchase", 95.0),
      (1L, 0, "view", 0.5), (1L, 20, "view", 0.5)))
    val out = byName("q_rmst")(spark, dir).head()
    assert(out.getAs[Double]("rmst") === 9.0)
    assert(out.getAs[Double]("surv_tau") === 0.5)
  }

  test("q_rmst: sf0.001 bounded by τ and consistent with survival") {
    val out = byName("q_rmst")(spark, "/root/testdata/sf0.001").head()
    val r = out.getAs[Double]("rmst")
    val s14 = out.getAs[Double]("surv_tau")
    assert(r > 0.0 && r <= 14.0)
    // S monotone ⇒ area ≥ τ·S(τ)
    assert(r >= 14.0 * s14 - 1e-6)
  }

  test("q_circular_stats: all-midnight events are perfectly concentrated") {
    val out = byName("q_circular_stats")(spark, dailyDir(Seq(10))).head()
    assert(out.getAs[Long]("n") === 10L)
    assert(out.getAs[Double]("mean_hour") === 0.0)
    assert(out.getAs[Double]("resultant_r") === 1.0)
    assert(out.getAs[Double]("rayleigh_z") === 10.0)
    assert(out.getAs[Double]("circ_variance") === 0.0)
  }

  test("q_circular_stats: sf0.001 R̄ in [0,1], mean hour on the clock") {
    val out = byName("q_circular_stats")(spark, "/root/testdata/sf0.001")
      .head()
    val r = out.getAs[Double]("resultant_r")
    val mh = out.getAs[Double]("mean_hour")
    assert(r >= 0.0 && r <= 1.0)
    assert(mh >= 0.0 && mh < 24.0)
    assert(out.getAs[Double]("rayleigh_p") >= 0.0)
  }

  test("q_gpd_pot: uniform ladder has the exact bounded-tail MoM fit") {
    // exceedances over p90 are 1000·(1..10): m = 5500, m²/s² = 3.3
    // → ξ = −1.15, σ = 5500·2.15 = 11825
    val dir = typedDir((1 to 100).map(i => (0L, 0, "view", i + 0.5)))
    val out = byName("q_gpd_pot")(spark, dir).head()
    assert(out.getAs[Long]("threshold") === 90500L)
    assert(out.getAs[Long]("n_exceed") === 10L)
    assert(out.getAs[Double]("xi") === -1.15)
    assert(out.getAs[Double]("sigma") === 11825.0)
  }

  test("q_gpd_pot: sf0.001 exceedance share ≈ 10%") {
    val out = byName("q_gpd_pot")(spark, "/root/testdata/sf0.001").head()
    assert(out.getAs[Long]("n_exceed") > 0L)
    assert(!out.getAs[Double]("xi").isNaN)
  }

  /** events.parquet with `cnt` events in hour-bucket `hb` of day 0. */
  private def hourDir(counts: Seq[Int]): String = {
    import spark.implicits._
    val dir = tempDir("r13hr").toString
    val day0 = 1704067200000000L
    counts.zipWithIndex.flatMap { case (cnt, hb) =>
      (0 until cnt).map { j =>
        ((hb * 100 + j).toLong, day0 + hb * 3600000000L + j * 1000L,
          j.toLong, "view", 1.0, "{}")
      }
    }.toDF("event_id", "__us", "user_id", "event_type", "value", "props")
      .withColumn("ts", timestamp_micros(col("__us"))).drop("__us")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    dir
  }

  test("q_hawkes_branching: alternating burst hours give η = 1 − √0.2") {
    // counts 10,0,…,10 over 9 hours: m/v = 0.2 exactly, Fano 5
    val out = byName("q_hawkes_branching")(spark,
      hourDir(Seq(10, 0, 10, 0, 10, 0, 10, 0, 10))).head()
    assert(out.getAs[Long]("n_hours") === 9L)
    assert(out.getAs[Double]("fano") === 5.0)
    assert(out.getAs[Double]("eta_branching") === 0.552786)
  }

  test("q_hawkes_branching: constant rate collapses to η = 0") {
    // var = 0: the ÷0 is nullif-guarded and greatest(NULL, 0) = 0 on
    // BOTH engines (greatest ignores NULLs) — no self-excitation
    val out = byName("q_hawkes_branching")(spark,
      hourDir(Seq.fill(6)(5))).head()
    assert(out.getAs[Double]("var_rate") === 0.0)
    assert(out.getAs[Double]("eta_branching") === 0.0)
  }

  test("q_hawkes_branching: sf0.001 η in [0, 1)") {
    val out = byName("q_hawkes_branching")(spark, "/root/testdata/sf0.001")
      .head()
    val eta = out.getAs[Double]("eta_branching")
    assert(eta >= 0.0 && eta < 1.0)
    assert(out.getAs[Double]("fano") > 0.0)
  }

  test("q_cem_att: one balanced stratum recovers the exact effect") {
    // 4 users, all n_ev = 10 (one stratum): treated means 4, control 1
    def user(uid: Long, errs: Int, purch: Int): Seq[(Long, Int, String, Double)] =
      Seq.fill(errs)((uid, 0, "error", 0.5)) ++
        Seq.fill(purch)((uid, 1, "purchase", 0.5)) ++
        Seq.fill(10 - errs - purch)((uid, 2, "view", 0.5))
    val dir = typedDir(user(0L, 2, 3) ++ user(1L, 2, 5) ++
      user(2L, 0, 1) ++ user(3L, 0, 1))
    val out = byName("q_cem_att")(spark, dir).head()
    assert(out.getAs[Long]("n_treated") === 2L)
    assert(out.getAs[Long]("n_matched_strata") === 1L)
    assert(out.getAs[Double]("att") === 3.0)
    assert(out.getAs[Double]("naive_diff") === 3.0)
  }

  test("q_cem_att: sf0.001 matches some strata and emits finite effects") {
    val out = byName("q_cem_att")(spark, "/root/testdata/sf0.001").head()
    assert(out.getAs[Long]("n_matched_strata") >= 1L)
    assert(!out.getAs[Double]("att").isNaN)
    assert(!out.getAs[Double]("naive_diff").isNaN)
  }

  test("q_bandit_replay: FTL chases the day-1 spike and pays regret") {
    // click: 5,1,1 milli; view: 2,2,2 → FTL picks click every day,
    // regret = 0 + 1 + 1 milli = 0.002
    val dir = typedDir(Seq(
      (0L, 0, "click", 0.005), (0L, 1, "click", 0.001),
      (0L, 2, "click", 0.001), (1L, 0, "view", 0.002),
      (1L, 1, "view", 0.002), (1L, 2, "view", 0.002)))
    val out = byName("q_bandit_replay")(spark, dir).head()
    assert(out.getAs[Long]("n_days") === 3L)
    assert(out.getAs[Double]("total_regret") === 0.002)
    assert(out.getAs[String]("final_arm") === "click")
  }

  test("q_bandit_replay: sf0.001 regret is non-negative") {
    val out = byName("q_bandit_replay")(spark, "/root/testdata/sf0.001")
      .head()
    assert(out.getAs[Double]("total_regret") >= 0.0)
    assert(out.getAs[String]("final_arm") != null)
  }

  test("q_cross_spectrum: a one-day channel shift reads as a one-day lag") {
    // weekly spike in views at t≡0 (mod 7); clicks identical but
    // shifted to t≡1 → phase lag of −1 day at the 7-day line
    val rows = (0 until 28).flatMap { t =>
      val v = if (t % 7 == 0) 30 else 5
      val c = if (t % 7 == 1) 30 else 5
      Seq.fill(v)((0L, t, "view", 0.5)) ++
        Seq.fill(c)((1L, t, "click", 0.5))
    }
    val out = byName("q_cross_spectrum")(spark, typedDir(rows))
      .filter(col("period_days") === 7).head()
    assert(out.getAs[Double]("amp_views") > 0.0)
    assert(math.abs(out.getAs[Double]("lag_days") + 1.0) < 0.05)
  }

  test("q_cross_spectrum: sf0.001 emits 3 periods with lag inside ±p/2") {
    val rows = byName("q_cross_spectrum")(spark, "/root/testdata/sf0.001")
      .collect()
    assert(rows.length === 3)
    rows.foreach { r =>
      val p = r.getAs[Long]("period_days").toDouble
      val lag = r.getAs[Double]("lag_days")
      assert(math.abs(lag) <= p / 2 + 1e-9)
    }
  }

  test("q_ewma_chart: constant series never alarms, ratio NULL-guarded") {
    val out = byName("q_ewma_chart")(spark, dailyDir(Seq.fill(20)(5)))
      .head()
    assert(out.getAs[Long]("n_violations") === 0L)
    assert(out.isNullAt(out.fieldIndex("max_ratio")))
  }

  test("q_ewma_chart: a level shift drives the chart out of its limits") {
    // phase I = first 5 days alternating 4/6 (μ₀ = 5ish, σ₀ ≈ 1);
    // the later jump to 50 must blow through the 3σ EWMA band
    val counts = Seq(4, 6, 4, 6, 4) ++ Seq.fill(15)(50)
    val out = byName("q_ewma_chart")(spark, dailyDir(counts)).head()
    assert(out.getAs[Long]("n_days") === 20L)
    assert(out.getAs[Long]("n_violations") >= 10L)
    assert(out.getAs[Double]("max_ratio") > 5.0)
  }

  test("q_ewma_chart: sf0.001 ratio finite and violations bounded") {
    val out = byName("q_ewma_chart")(spark, "/root/testdata/sf0.001")
      .head()
    assert(out.getAs[Long]("n_violations") <= out.getAs[Long]("n_days"))
    assert(out.getAs[Double]("max_ratio") > 0.0)
  }

  test("q_western_electric: a sustained shift trips rules 1 and 4") {
    // baseline 4/6 alternating; 15 days at 50 → far beyond 3σ and a
    // long same-side run
    val counts = Seq(4, 6, 4, 6, 4) ++ Seq.fill(15)(50)
    val out = byName("q_western_electric")(spark, dailyDir(counts)).head()
    assert(out.getAs[Long]("rule1_beyond3") === 15L)
    assert(out.getAs[Long]("rule4_8run") >= 1L)
    assert(out.getAs[Long]("rule2_2of3") >= 1L)
  }

  test("q_western_electric: sf0.001 rule counts bounded by day count") {
    val out = byName("q_western_electric")(spark, "/root/testdata/sf0.001")
      .head()
    val n = out.getAs[Long]("n_days")
    Seq("rule1_beyond3", "rule2_2of3", "rule3_4of5", "rule4_8run")
      .foreach { c =>
        val v = out.getAs[Long](c)
        assert(v >= 0L && v <= n)
      }
  }

  test("q_iv_wald: engineered weekend uplift yields the exact ratio") {
    // weekdays: 10 views, 2 purchases; weekends: 20 views, 7 →
    // β = 5/10 = 0.5 (2024-01-06/07 are the first weekend)
    val rows = (0 until 14).flatMap { di =>
      val wknd = di % 7 == 5 || di % 7 == 6 // Jan 6 = Saturday
      val (v, p) = if (wknd) (20, 7) else (10, 2)
      Seq.fill(v)((0L, di, "view", 0.5)) ++
        Seq.fill(p)((1L, di, "purchase", 0.5))
    }
    val out = byName("q_iv_wald")(spark, typedDir(rows)).head()
    assert(out.getAs[Long]("n_weekend") === 4L)
    assert(out.getAs[Double]("first_stage_dx") === 10.0)
    assert(out.getAs[Double]("reduced_form_dy") === 5.0)
    assert(out.getAs[Double]("beta_iv") === 0.5)
  }

  test("q_iv_wald: sf0.001 arms partition the calendar") {
    val out = byName("q_iv_wald")(spark, "/root/testdata/sf0.001").head()
    assert(out.getAs[Long]("n_weekend") > 0L)
    assert(out.getAs[Long]("n_weekday") > out.getAs[Long]("n_weekend"))
  }

  test("q_mase_panel: noisy train + level-shift holdout, all by hand") {
    // train alternates 4/6 (seasonal-naive AE = 2); holdout 5 days at
    // 50 → AEs 46/44/46/44/46: MASE 22.6, wMAPE 226/250, bias +1
    val counts = (1 to 15).map(i => if (i % 2 == 1) 4 else 6) ++
      Seq.fill(5)(50)
    val out = byName("q_mase_panel")(spark, dailyDir(counts)).head()
    assert(out.getAs[Long]("n_holdout") === 5L)
    assert(out.getAs[Double]("mase") === 22.6)
    assert(out.getAs[Double]("wmape") === 0.904)
    assert(out.getAs[Double]("bias_share") === 1.0)
    assert(out.getAs[Double]("smape") === 1.650794)
  }

  test("q_mase_panel: perfect weekly rhythm NULL-guards the zero scale") {
    val out = byName("q_mase_panel")(spark, weeklyDir).head()
    assert(out.getAs[Double]("smape") === 0.0)
    assert(out.getAs[Double]("wmape") === 0.0)
    assert(out.isNullAt(out.fieldIndex("mase"))) // 0/0 train MAE
  }

  test("q_mase_panel: sf0.001 metrics are non-negative") {
    val out = byName("q_mase_panel")(spark, "/root/testdata/sf0.001")
      .head()
    assert(out.getAs[Double]("mase") > 0.0)
    assert(out.getAs[Double]("smape") >= 0.0)
    val b = out.getAs[Double]("bias_share")
    assert(b >= -1.0 && b <= 1.0)
  }

  test("q_sharpe_sortino: +100%/−50% returns give the closed-form pair") {
    // returns {1, −0.5}: m = 0.25, σ = 0.75, downside σ = √0.125
    val dir = typedDir(Seq((0L, 0, "purchase", 1.0),
      (0L, 1, "purchase", 2.0), (0L, 2, "purchase", 1.0)))
    val out = byName("q_sharpe_sortino")(spark, dir).head()
    assert(out.getAs[Long]("n_returns") === 2L)
    assert(out.getAs[Double]("mean_ret") === 0.25)
    assert(out.getAs[Double]("sharpe") === 0.333333)
    assert(out.getAs[Double]("sortino") === 0.707107)
  }

  test("q_sharpe_sortino: sf0.001 Sortino ≥ Sharpe in magnitude") {
    val out = byName("q_sharpe_sortino")(spark, "/root/testdata/sf0.001")
      .head()
    val sh = out.getAs[Double]("sharpe")
    val so = out.getAs[Double]("sortino")
    // downside σ ≤ total σ ⇒ |sortino| ≥ |sharpe|
    assert(math.abs(so) >= math.abs(sh) - 1e-9)
  }

  test("q_decision_stump: a separable class finds the pure split") {
    // purchases at vm 800/900, others at 100/200 → θ = 200 splits
    // perfectly: gain = parent Gini = 0.5, leaves pure
    val dir = typedDir(Seq((0L, 0, "view", 0.1), (1L, 0, "click", 0.2),
      (2L, 0, "purchase", 0.8), (3L, 0, "purchase", 0.9)))
    val out = byName("q_decision_stump")(spark, dir).head()
    assert(out.getAs[Long]("threshold") === 200L)
    assert(out.getAs[Double]("gini_gain") === 0.5)
    assert(out.getAs[Long]("left_pos_ppm") === 0L)
    assert(out.getAs[Long]("right_pos_ppm") === 1000000L)
  }

  test("q_decision_stump: sf0.001 gain non-negative, rates in range") {
    val out = byName("q_decision_stump")(spark, "/root/testdata/sf0.001")
      .head()
    assert(out.getAs[Double]("gini_gain") >= 0.0)
    val l = out.getAs[Long]("left_pos_ppm")
    val r = out.getAs[Long]("right_pos_ppm")
    assert(l >= 0L && l <= 1000000L)
    assert(r >= 0L && r <= 1000000L)
  }

  test("q_recurrence_quant: sf0.001 fractions in [0, 1]") {
    val out = byName("q_recurrence_quant")(spark, "/root/testdata/sf0.001")
      .head()
    assert(out.getAs[Long]("n_recur") > 0L)
    val rr = out.getAs[Double]("rr")
    val d2 = out.getAs[Double]("det2_frac")
    val l2 = out.getAs[Double]("lam2_frac")
    assert(rr > 0.0 && rr < 1.0)
    assert(d2 >= 0.0 && d2 <= 1.0)
    assert(l2 >= 0.0 && l2 <= 1.0)
  }
}
