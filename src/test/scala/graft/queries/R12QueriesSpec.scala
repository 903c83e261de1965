package graft.queries

import graft.GraftSpec
import org.apache.spark.sql.functions._

/** Laws for the round-11 session-4 kernels. Each law pins a closed-form
  * fixture outcome (perfect agreement → 1, homogeneous variance → 0)
  * that a same-formula-on-both-engines slip could not fake, plus sf0.001
  * range sanity. */
class R12QueriesSpec extends GraftSpec {

  private def byName(name: String) = R12Queries.defs.find(_.name == name).get.fn

  private def eventsDir(rows: Seq[(Long, Long, String, Double)]): String = {
    import spark.implicits._
    val dir = tempDir("r12ev").toString
    rows.zipWithIndex
      .map { case ((us, uid, et, v), i) => (i.toLong, us, uid, et, v, "{}") }
      .toDF("event_id", "__us", "user_id", "event_type", "value", "props")
      .withColumn("ts", timestamp_micros(col("__us"))).drop("__us")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    dir
  }

  private def docsDir(rows: Seq[(Long, String)]): String = {
    import spark.implicits._
    val dir = tempDir("r12doc").toString
    rows.map { case (id, t) => (id, t, "en", "web", t.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    dir
  }

  private val day0 = 1704067200000000L // 2024-01-01 UTC micros

  test("q_bartlett_test: identical group distributions give stat 0") {
    // same 4 values in each of 3 groups → all s_i² equal → T = 0
    val rows = for {
      (et, gi) <- Seq("view", "click", "purchase").zipWithIndex
      (v, j) <- Seq(1.0, 2.0, 3.0, 6.0).zipWithIndex
    } yield (day0 + (gi * 4 + j) * 1000000L, (gi * 4 + j).toLong, et, v)
    val out = byName("q_bartlett_test")(spark, eventsDir(rows)).head()
    assert(out.getAs[Double]("bartlett_stat") === 0.0)
    assert(out.getAs[Long]("df") === 2L)
  }

  test("q_bartlett_test: unequal variances give a positive stat on sf0.001") {
    val out = byName("q_bartlett_test")(spark, "/root/testdata/sf0.001").head()
    assert(out.getAs[Double]("bartlett_stat") >= 0.0)
    assert(out.getAs[Long]("n_total") === 1000L)
  }

  test("q_cronbach_alpha: perfectly parallel items give alpha 1") {
    // every user scores the same value on all 3 items → total variance
    // = k² item variance → alpha = 1
    val rows = for {
      (uid, base) <- Seq((1L, 1.0), (2L, 2.0), (3L, 5.0))
      (et, j) <- Seq("view", "click", "purchase").zipWithIndex
    } yield (day0 + (uid * 3 + j) * 1000000L, uid, et, base)
    val out = byName("q_cronbach_alpha")(spark, eventsDir(rows)).head()
    assert(out.getAs[Double]("alpha") === 1.0)
    assert(out.getAs[Long]("k_items") === 3L)
  }

  test("q_cronbach_alpha: sf0.001 alpha is finite and <= 1") {
    val a = byName("q_cronbach_alpha")(spark, "/root/testdata/sf0.001")
      .head().getAs[Double]("alpha")
    assert(!a.isNaN && a <= 1.0)
  }

  test("q_icc_deff: zero within-cluster variance gives ICC 1, DEFF m̄") {
    // each user repeats one value ×3 → SSW = 0 → ICC = 1 → DEFF = m̄ = 3
    val rows = for {
      (uid, v) <- Seq((1L, 1.0), (2L, 4.0), (3L, 9.0)); j <- 0 until 3
    } yield (day0 + (uid * 3 + j) * 1000000L, uid, "view", v)
    val out = byName("q_icc_deff")(spark, eventsDir(rows)).head()
    assert(out.getAs[Double]("icc") === 1.0)
    assert(out.getAs[Double]("deff") === 3.0)
  }

  test("q_icc_deff: sf0.001 ICC is within (-1, 1]") {
    val out = byName("q_icc_deff")(spark, "/root/testdata/sf0.001").head()
    val icc = out.getAs[Double]("icc")
    assert(icc > -1.0 && icc <= 1.0)
  }

  test("q_kendall_w: identical judge rankings give W 1") {
    // all 3 judges see the same tie-free daily counts → W = 1
    val counts = Seq(1, 2, 3, 4) // events per day, distinct → no ties
    val rows = for {
      et <- Seq("view", "click", "purchase")
      (c, k) <- counts.zipWithIndex
      i <- 0 until c
    } yield (day0 + k * 86400000000L + i * 1000000L, i.toLong, et, 1.0)
    val out = byName("q_kendall_w")(spark, eventsDir(rows)).head()
    assert(out.getAs[Double]("kendall_w") === 1.0)
    assert(out.getAs[Long]("n_days") === 4L)
    assert(out.getAs[Long]("m_judges") === 3L)
  }

  test("q_kendall_w: sf0.001 W is in [0, 1]") {
    val w = byName("q_kendall_w")(spark, "/root/testdata/sf0.001")
      .head().getAs[Double]("kendall_w")
    assert(w >= 0.0 && w <= 1.0)
  }

  test("q_gwet_ac1: unanimous raters give AC1 1") {
    // long stopword-rich docs → all three raters positive; tiny docs →
    // all negative. Perfect agreement on every doc → Pa = 1 → AC1 = 1.
    val pos = ("the a an of and to in is on for with at " * 8).trim // 96 tokens
    val rows = (0L until 4L).map(i => (i, pos + " " + "x" * 200)) ++
      (4L until 8L).map(i => (i, "tiny"))
    val out = byName("q_gwet_ac1")(spark, docsDir(rows)).head()
    assert(out.getAs[Double]("gwet_ac1") === 1.0)
    assert(out.getAs[Double]("fleiss_kappa") === 1.0)
  }

  test("q_gwet_ac1: sf0.001 AC1 and kappa are <= 1 and AC1 >= kappa here") {
    val out = byName("q_gwet_ac1")(spark, "/root/testdata/sf0.001").head()
    assert(out.getAs[Double]("gwet_ac1") <= 1.0)
    assert(out.getAs[Double]("fleiss_kappa") <= 1.0)
  }

  /** one event per day with the given value → daily mean = value */
  private def dailySeries(xs: Seq[Double]): String =
    eventsDir(xs.zipWithIndex.map { case (v, k) =>
      (day0 + k * 86400000000L, k.toLong, "view", v) })

  test("q_page_hinkley: constant series never alarms, PH stays 0") {
    val out = byName("q_page_hinkley")(spark, dailySeries(Seq.fill(10)(5.0)))
      .head()
    assert(out.getAs[Double]("ph_stat") === 0.0)
    assert(out.getAs[Long]("alarm_day") === -1L)
  }

  test("q_page_hinkley: a large level jump matches the reference detector") {
    val xs = Seq.fill(5)(10.0) ++ Seq.fill(10)(150.0)
    // independent reference loop (δ=1, λ=50)
    var (n, cs, mt, mn, al) = (0.0, 0.0, 0.0, 0.0, -1L)
    xs.foreach { x =>
      n += 1; cs += x; mt += x - cs / n - 1.0; mn = math.min(mn, mt)
      if (al < 0 && mt - mn > 50.0) al = n.toLong
    }
    val out = byName("q_page_hinkley")(spark, dailySeries(xs)).head()
    assert(out.getAs[Long]("alarm_day") === al)
    assert(out.getAs[Double]("ph_stat") ===
      BigDecimal(mt - mn).setScale(6, BigDecimal.RoundingMode.HALF_UP)
        .toDouble)
  }

  test("q_kalman_level: constant series is tracked exactly") {
    val out = byName("q_kalman_level")(spark, dailySeries(Seq.fill(8)(42.0)))
      .head()
    assert(out.getAs[Double]("level_last") === 42.0)
    assert(out.getAs[Double]("innovation_rms") === 0.0)
  }

  test("q_kalman_level: P converges to the steady-state Riccati value") {
    // steady state: P = (1-K)(P+Q), K = (P+Q)/(P+Q+R) with Q=1, R=25
    // → P² + QP - QR = 0 → P = (-1 + sqrt(1 + 100)) / 2
    val pStar = (-1.0 + math.sqrt(101.0)) / 2.0
    val p = byName("q_kalman_level")(spark,
      dailySeries((1 to 80).map(_.toDouble)))
      .head().getAs[Double]("p_last")
    assert(math.abs(p - pStar) < 1e-6)
  }

  test("q_transfer_entropy: a constant-direction target chann" +
    "el carries zero TE") {
    // purchases strictly increase daily → y ≡ 1 → H(y1|·) = 0 → TE = 0
    val rows = (0 until 12).flatMap { k =>
      (0 until (5 + (k % 3))).map(i => // views wiggle
        (day0 + k * 86400000000L + i * 1000000L, i.toLong, "view", 1.0)) ++
      (0 until (k + 1)).map(i => // purchases strictly grow
        (day0 + k * 86400000000L + (100 + i) * 1000000L, i.toLong,
          "purchase", 1.0))
    }
    val out = byName("q_transfer_entropy")(spark, eventsDir(rows)).head()
    assert(out.getAs[Double]("te_view_to_purchase") === 0.0)
  }

  test("q_transfer_entropy: sf0.001 TEs are non-negative (plug-in KL)") {
    val out = byName("q_transfer_entropy")(spark, "/root/testdata/sf0.001")
      .head()
    assert(out.getAs[Double]("te_view_to_purchase") >= 0.0)
    assert(out.getAs[Double]("te_purchase_to_view") >= 0.0)
    assert(out.getAs[Long]("n_triples") === 28L)
  }

  test("q_rsi_wilder: monotone series pin RSI at 100 / 0") {
    val up = byName("q_rsi_wilder")(spark,
      dailySeries((1 to 12).map(_ * 10.0))).head()
    assert(up.getAs[Double]("rsi_last") === 100.0)
    assert(up.getAs[Long]("n_oversold") === 0L)
    val down = byName("q_rsi_wilder")(spark,
      dailySeries((1 to 12).map(k => 200.0 - k * 10.0))).head()
    assert(down.getAs[Double]("rsi_last") === 0.0)
    assert(down.getAs[Long]("n_overbought") === 0L)
  }

  test("q_macd_signal: constant series gives zero MACD and no crossovers") {
    val out = byName("q_macd_signal")(spark, dailySeries(Seq.fill(15)(7.0)))
      .head()
    assert(out.getAs[Double]("macd_last") === 0.0)
    assert(out.getAs[Double]("signal_last") === 0.0)
    assert(out.getAs[Long]("n_bullish_cross") === 0L)
  }

  test("q_macd_signal: a rising trend puts the fast EMA above the slow") {
    val out = byName("q_macd_signal")(spark,
      dailySeries((1 to 20).map(_ * 5.0))).head()
    assert(out.getAs[Double]("macd_last") > 0.0)
  }

  private def lineitemDir(rows: Seq[(Long, String, Double)]): String = {
    import spark.implicits._
    val dir = tempDir("r12li").toString
    rows.toDF("l_partkey", "__d", "l_quantity")
      .withColumn("l_shipdate", to_timestamp(col("__d"))).drop("__d")
      .write.mode("overwrite").parquet(s"$dir/lineitem.parquet")
    dir
  }

  test("q_croston_sba: steady daily demand forecasts the demand size") {
    // size 8 every day → z stays 8, p stays 1 → forecast 8, SBA 7.6
    val rows = (0 until 10).map(k => (3L, f"2024-01-${k + 1}%02d", 8.0))
    val out = byName("q_croston_sba")(spark, lineitemDir(rows)).head()
    assert(out.getAs[Double]("croston_forecast") === 8.0)
    assert(out.getAs[Double]("sba_forecast") === 7.6)
    assert(out.getAs[Long]("n_demands") === 10L)
  }

  test("q_croston_sba: constant gap-3 demand matches the reference loop") {
    val rows = (0 until 8).map(k => (5L, f"2024-01-${1 + 3 * k}%02d", 12.0))
    var (z, p) = (12.0, 1.0)
    (2 to 8).foreach { _ => z += 0.1 * (12.0 - z); p += 0.1 * (3.0 - p) }
    val out = byName("q_croston_sba")(spark, lineitemDir(rows)).head()
    assert(out.getAs[Double]("croston_forecast") ===
      BigDecimal(z / p).setScale(6, BigDecimal.RoundingMode.HALF_UP)
        .toDouble)
  }

  // crafted corpus: a×1 b×1 c×2 d×3 → S=4, F1=2, F2=1, F3=1, N=7
  private def spectrumDir(): String =
    docsDir(Seq((0L, "a c d"), (1L, "b c d d")))

  test("corpus_chao1_richness: crafted spectrum gives the closed form") {
    val out = byName("corpus_chao1_richness")(spark, spectrumDir()).head()
    assert(out.getAs[Long]("s_obs") === 4L)
    assert(out.getAs[Long]("f1") === 2L)
    assert(out.getAs[Long]("f2") === 1L)
    assert(out.getAs[Double]("chao1") === 4.5) // 4 + 2·1/(2·2)
  }

  test("corpus_good_turing: crafted spectrum gives exact adjusted counts") {
    val out = byName("corpus_good_turing")(spark, spectrumDir()).head()
    assert(out.getAs[Long]("n_tokens") === 7L)
    assert(out.getAs[Double]("p_unseen") === 0.285714286) // 2/7
    assert(out.getAs[Double]("r1_star") === 1.0) // 2·F2/F1
    assert(out.getAs[Double]("r2_star") === 3.0) // 3·F3/F2
  }

  test("text_vocab_richness: uniform spectrum matches Yule/Herdan closed forms") {
    // 5 terms × 4 occurrences each: N=20, V=5, Σr²V_r=80, V1=V2=0
    val docs = docsDir(Seq((0L, ("t1 t2 t3 t4 t5 " * 4).trim)))
    val out = byName("text_vocab_richness")(spark, docs).head()
    assert(out.getAs[Long]("vocab") === 5L)
    assert(out.getAs[Long]("n_tokens") === 20L)
    val k = 10000.0 * (80.0 - 20.0) / 400.0
    assert(out.getAs[Double]("yule_k") === k)
    assert(out.getAs[Double]("sichel_s") === 0.0)
    // V1 = 0 < V ⇒ Honoré defined: 100·ln(20)/(1-0) = 299.5732
    assert(out.getAs[Double]("honore_r") === 299.5732)
    val c = BigDecimal(math.round(math.log(5.0) * 1e9) / 1e9 /
      (math.round(math.log(20.0) * 1e9) / 1e9))
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(out.getAs[Double]("herdan_c") === c)
  }

  test("corpus_heaps_fit: an all-distinct corpus fits beta 1, k 1") {
    // 10 docs × 5 globally-unique tokens → V_d = N_d at every decile
    val docs = docsDir((0L until 10L).map(i =>
      (i, (0 until 5).map(j => s"w${i}_$j").mkString(" "))))
    val out = byName("corpus_heaps_fit")(spark, docs).head()
    assert(out.getAs[Double]("heaps_beta") === 1.0)
    assert(out.getAs[Double]("heaps_k") === 1.0)
  }

  test("corpus_heaps_fit: sf0.001 exponent is a plausible Heaps beta") {
    // the synthetic corpus has a fixed 31-word vocabulary, so the fit
    // correctly reports full saturation: beta = 0, k = vocab size
    val out = byName("corpus_heaps_fit")(spark, "/root/testdata/sf0.001")
      .head()
    val b = out.getAs[Double]("heaps_beta")
    assert(b >= 0.0 && b < 1.0)
    assert(out.getAs[Double]("heaps_k") === 31.0)
  }

  test("text_mtld: a fully repetitive doc factors every 2 tokens") {
    // 'a' ×50: TTR dips below .72 at every 2nd token → 25 factors,
    // zero partial → MTLD = 50/25 = 2 in both directions
    val out = byName("text_mtld")(spark,
      docsDir(Seq((0L, Seq.fill(50)("a").mkString(" "))))).head()
    assert(out.getAs[Long]("n_tokens") === 50L)
    assert(out.getAs[Double]("mtld_fwd") === 2.0)
    assert(out.getAs[Double]("mtld_bwd") === 2.0)
    assert(out.getAs[Double]("mtld") === 2.0)
  }

  test("text_mtld: an all-distinct doc never completes a factor (NULL)") {
    val out = byName("text_mtld")(spark,
      docsDir(Seq((0L, (0 until 30).map(i => s"u$i").mkString(" ")))))
      .head()
    assert(out.isNullAt(out.fieldIndex("mtld_fwd")))
    assert(out.isNullAt(out.fieldIndex("mtld")))
  }

  /** lineitem fixture with order keys: (orderkey, partkey, shipdate, qty) */
  private def lineitemDirO(rows: Seq[(Long, Long, String, Double)]): String = {
    import spark.implicits._
    val dir = tempDir("r12lo").toString
    rows.toDF("l_orderkey", "l_partkey", "__d", "l_quantity")
      .withColumn("l_shipdate", to_timestamp(col("__d"))).drop("__d")
      .write.mode("overwrite").parquet(s"$dir/lineitem.parquet")
    dir
  }

  test("q_graph_reciprocity: one mutual and one one-way dyad") {
    // o1: A before B; o2: B before A (mutual); o3: A before C (asym)
    val rows = Seq(
      (1L, 10L, "2024-01-01", 1.0), (1L, 20L, "2024-01-02", 1.0),
      (2L, 20L, "2024-01-01", 1.0), (2L, 10L, "2024-01-02", 1.0),
      (3L, 10L, "2024-01-01", 1.0), (3L, 30L, "2024-01-02", 1.0))
    val out = byName("q_graph_reciprocity")(spark, lineitemDirO(rows)).head()
    assert(out.getAs[Long]("n_edges") === 3L)
    assert(out.getAs[Long]("n_mutual_dyads") === 1L)
    assert(out.getAs[Long]("n_asym_dyads") === 1L)
    assert(out.getAs[Double]("reciprocity") === 0.666667)
  }

  test("q_closeness_centrality: path graph 1-2-3 gives exact harmonics") {
    // co-purchase edges need support >= 2: each pair appears in 2 orders
    val rows = Seq(
      (1L, 1L, "2024-01-01", 1.0), (1L, 2L, "2024-01-01", 1.0),
      (2L, 1L, "2024-01-01", 1.0), (2L, 2L, "2024-01-01", 1.0),
      (3L, 2L, "2024-01-01", 1.0), (3L, 3L, "2024-01-01", 1.0),
      (4L, 2L, "2024-01-01", 1.0), (4L, 3L, "2024-01-01", 1.0))
    val out = byName("q_closeness_centrality")(spark, lineitemDirO(rows))
      .collect().map(r => (r.getAs[Long]("seed"), r.getAs[Long]("h60")))
      .toMap
    assert(out(2L) === 120L) // two neighbors at hop 1
    assert(out(1L) === 90L)  // hop1 + hop2 → 60 + 30
    assert(out(3L) === 90L)
  }

  test("q_kcore_profile: a triangle survives k=2 and dies at k=3") {
    val rows = (0 until 2).flatMap { r =>
      Seq((r * 10 + 1L, 1L), (r * 10 + 1L, 2L), (r * 10 + 2L, 2L),
        (r * 10 + 2L, 3L), (r * 10 + 3L, 1L), (r * 10 + 3L, 3L))
    }.map { case (o, p) => (o, p, "2024-01-01", 1.0) }
    val out = byName("q_kcore_profile")(spark, lineitemDirO(rows))
      .collect().map(r => (r.getAs[Long]("k"), r.getAs[Long]("core_nodes"),
        r.getAs[Long]("core_edges")))
    assert(out.toSeq === Seq((2L, 3L, 3L), (3L, 0L, 0L), (4L, 0L, 0L)))
  }

  test("q_apdex_score: one satisfied, one tolerating, one frustrated") {
    val rows = Seq(
      (day0, 1L, "view", 1.0), (day0 + 600000000L, 1L, "purchase", 1.0),
      (day0 + 1000000000L, 2L, "view", 1.0),
      (day0 + 1000000000L + 3600000000L, 2L, "purchase", 1.0),
      (day0 + 2000000000L, 3L, "view", 1.0),
      (day0 + 2000000000L + 10800000000L, 3L, "purchase", 1.0))
    val out = byName("q_apdex_score")(spark, eventsDir(rows)).head()
    assert(out.getAs[Long]("n_samples") === 3L)
    assert(out.getAs[Long]("n_satisfied") === 1L)
    assert(out.getAs[Long]("n_tolerating") === 1L)
    assert(out.getAs[Long]("apdex_ppm") === 500000L)
  }

  private def embDir(rows: Seq[(Long, Array[Float], Int)]): String = {
    import spark.implicits._
    val dir = tempDir("r12emb").toString
    rows.toDF("vec_id", "embedding", "label")
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    dir
  }

  test("emb_sliced_wasserstein: identical halves have zero distance") {
    // vec 2i and 2i+1 carry the same vector → every direction's sorted
    // projections pair identically → W1 = 0 on all 8 slices
    val rows = (0 until 10).map { i =>
      val v = Array.tabulate(64)(j => ((i * 7 + j) % 5 - 2).toFloat)
      (i.toLong, v, 0)
    }.flatMap(r => Seq((r._1 * 2, r._2, 0), (r._1 * 2 + 1, r._2, 0)))
    val out = byName("emb_sliced_wasserstein")(spark, embDir(rows))
      .collect()
    assert(out.length === 8)
    assert(out.forall(_.getAs[Double]("w1") === 0.0))
    assert(out.forall(_.getAs[Long]("n_pairs") === 10L))
  }

  test("emb_sliced_wasserstein: shifted halves have positive distance") {
    val rows = (0 until 20).map { i =>
      val base = Array.tabulate(64)(j => ((i / 2 + j) % 3).toFloat)
      if (i % 2 == 1) (i.toLong, base.map(_ + 5.0f), 0)
      else (i.toLong, base, 0)
    }
    val out = byName("emb_sliced_wasserstein")(spark, embDir(rows))
      .collect()
    assert(out.count(_.getAs[Double]("w1") > 0.0) >= 7)
  }

  test("q_dbscan_grid: two far blobs make two clusters, strays are noise") {
    def blob(cx: Float, cy: Float, n: Int, id0: Long) =
      (0 until n).map { i =>
        (id0 + i, Array.tabulate(64)(j =>
          if (j == 0) cx + i * 0.01f else if (j == 1) cy + i * 0.01f
          else 0.0f), 0)
      }
    val rows = blob(0.1f, 0.1f, 6, 0L) ++ blob(5.1f, 5.1f, 6, 100L) ++
      Seq((200L, Array.tabulate(64)(j => if (j <= 1) -3.0f else 0f), 0),
        (201L, Array.tabulate(64)(j => if (j <= 1) 9.0f else 0f), 0))
    val out = byName("q_dbscan_grid")(spark, embDir(rows)).head()
    assert(out.getAs[Long]("n_core_cells") === 2L)
    assert(out.getAs[Long]("n_clusters") === 2L)
    assert(out.getAs[Long]("n_core_points") === 12L)
    assert(out.getAs[Long]("n_noise_points") === 2L)
    assert(out.getAs[Long]("largest_cluster_points") === 6L)
  }

  test("q_dbscan_grid: adjacent core cells merge into one cluster") {
    def cellPts(cx: Float, n: Int, id0: Long) = (0 until n).map { i =>
      (id0 + i, Array.tabulate(64)(j =>
        if (j == 0) cx + i * 0.01f else if (j == 1) 0.1f else 0f), 0)
    }
    // cells (0,0) and (1,0) are 8-neighbors → single cluster of 12
    val rows = cellPts(0.1f, 6, 0L) ++ cellPts(0.6f, 6, 100L)
    val out = byName("q_dbscan_grid")(spark, embDir(rows)).head()
    assert(out.getAs[Long]("n_core_cells") === 2L)
    assert(out.getAs[Long]("n_clusters") === 1L)
    assert(out.getAs[Long]("largest_cluster_points") === 12L)
  }

  test("q_lof_outliers: an isolated point tops the LOF ranking") {
    // 11-point tight blob + 1 far outlier (12 pts → k=10 stays inside)
    val rows = (0 until 11).map { i =>
      (i.toLong, Array.tabulate(64)(j =>
        if (j == 0) i * 0.01f else if (j == 1) (i % 3) * 0.01f else 0f), 0)
    } :+ (99L, Array.tabulate(64)(j => if (j == 0) 50f else 0f), 0)
    val out = byName("q_lof_outliers")(spark, embDir(rows)).collect()
    assert(out.head.getAs[Long]("vec_id") === 99L)
    assert(out.head.getAs[Double]("lof") > 1.5)
  }

  test("q_mttr_mtbf: hand-built incident stream") {
    val rows = Seq(
      (day0, 1L, "error", 1.0), (day0 + 30000000L, 1L, "click", 1.0),
      (day0 + 100000000L, 1L, "error", 1.0),
      (day0 + 700000000L, 1L, "error", 1.0),
      (day0 + 800000000L, 1L, "view", 1.0))
    val out = byName("q_mttr_mtbf")(spark, eventsDir(rows)).head()
    assert(out.getAs[Long]("n_incidents") === 3L)
    // (30 + 700 + 100) / 3 s
    assert(out.getAs[Double]("mttr_seconds") === 276.6667)
    assert(out.getAs[Long]("n_gaps") === 2L)
    assert(out.getAs[Double]("mtbf_minutes") === 5.8333) // 700s/2/60
  }

  test("q_rdd_cutoff: a crafted +5 jump at the cutoff is recovered exactly") {
    // user with x views purchases x times left of c=10, x+5 right of it
    val rows = (2 until 18).flatMap { x =>
      val uid = x.toLong
      val views = (0 until x).map(i =>
        (day0 + uid * 3600000000L + i * 1000000L, uid, "view", 1.0))
      val ny = if (x < 10) x else x + 5
      val buys = (0 until ny).map(i =>
        (day0 + uid * 3600000000L + (500 + i) * 1000000L, uid,
          "purchase", 1.0))
      views ++ buys
    }
    val out = byName("q_rdd_cutoff")(spark, eventsDir(rows)).head()
    assert(out.getAs[Double]("rdd_effect") === 5.0)
    assert(out.getAs[Double]("left_fit_at_c") === 10.0)
    assert(out.getAs[Double]("right_fit_at_c") === 15.0)
  }

  test("q_permutation_test: zero observed difference gives p = 1") {
    // every day: one view and one purchase with identical value →
    // all daily diffs are 0 → every permutation ties T_obs = 0
    val rows = (0 until 10).flatMap { k =>
      Seq((day0 + k * 86400000000L, 1L, "view", 7.0),
        (day0 + k * 86400000000L + 1000000L, 2L, "purchase", 7.0))
    }
    val out = byName("q_permutation_test")(spark, eventsDir(rows)).head()
    assert(out.getAs[Long]("t_obs_milli") === 0L)
    assert(out.getAs[Long]("p_ppm") === 1000000L)
  }

  test("q_tost_equivalence: mirrored channels are declared equivalent") {
    val rows = (0 until 100).flatMap { i =>
      val v = 10.0 + (i % 7)
      Seq((day0 + i * 1000000L, i.toLong, "view", v),
        (day0 + i * 1000000L + 500000L, i.toLong, "click", v))
    }
    val out = byName("q_tost_equivalence")(spark, eventsDir(rows)).head()
    assert(out.getAs[Double]("mean_diff") === 0.0)
    assert(out.getAs[Long]("equivalent") === 1L)
  }

  test("q_holm_by: wildly separated channels reject every pair") {
    val rows = (0 until 60).flatMap { i =>
      val j = i % 2 // tiny within-group jitter, huge between-group gaps
      Seq((day0 + i * 1000000L, i.toLong, "view", 10.0 + j),
        (day0 + i * 1000000L + 1L, i.toLong, "click", 200.0 + j),
        (day0 + i * 1000000L + 2L, i.toLong, "purchase", 400.0 + j))
    }
    val out = byName("q_holm_by")(spark, eventsDir(rows)).collect()
    assert(out.length === 3)
    assert(out.forall(_.getAs[Long]("rej_holm") === 1L))
    assert(out.forall(_.getAs[Long]("rej_by") === 1L))
  }

  /** independent reference: P(p_B > p_A), Beta-Binomial closed form */
  private def refBayes(aA: Int, bA: Int, aB: Int, bB: Int): Double = {
    def lnfact(k: Int): Double = (2 to k).map(j => math.log(j)).sum
    def lnBeta(x: Int, y: Int): Double =
      lnfact(x - 1) + lnfact(y - 1) - lnfact(x + y - 1)
    (0 until aB).map { i =>
      math.exp(lnBeta(aA + i, bA + bB) - math.log(bB + i) -
        lnBeta(1 + i, bB) - lnBeta(aA, bA))
    }.sum
  }

  /** events at given (day, hour) with value; one event per cell entry */
  private def gridEvents(cells: Seq[(Int, Int, Double)]): String =
    eventsDir(cells.zipWithIndex.map { case ((dd, hh, v), i) =>
      (day0 + dd * 86400000000L + hh * 3600000000L + i, i.toLong, "view", v)
    })

  test("q_moran_geary: a smooth hour gradient is positively autocorrelated") {
    val cells = for (dd <- 0 until 7; hh <- 0 until 24)
      yield (dd, hh, hh * 10.0)
    val out = byName("q_moran_geary")(spark, gridEvents(cells)).head()
    assert(out.getAs[Long]("n_cells") === 168L)
    assert(out.getAs[Double]("moran_i") > 0.5)
    assert(out.getAs[Double]("geary_c") < 0.5)
  }

  test("q_moran_geary: an hour-parity checkerboard is negatively " +
    "autocorrelated") {
    val cells = for (dd <- 0 until 7; hh <- 0 until 24)
      yield (dd, hh, if ((hh + dd) % 2 == 0) 10.0 else 200.0)
    val out = byName("q_moran_geary")(spark, gridEvents(cells)).head()
    assert(out.getAs[Double]("moran_i") < -0.5)
    assert(out.getAs[Double]("geary_c") > 1.5)
  }

  test("q_cliffs_delta: fully separated channels give delta 1, A 1") {
    val rows = (0 until 20).map(i =>
      (day0 + i * 1000000L, i.toLong, "view", 100.0 + i)) ++
      (0 until 20).map(i =>
        (day0 + (100 + i) * 1000000L, i.toLong, "purchase", 10.0 + i))
    val out = byName("q_cliffs_delta")(spark, eventsDir(rows)).head()
    assert(out.getAs[Long]("cliffs_delta_ppm") === 1000000L)
    assert(out.getAs[Long]("vargha_a_ppm") === 1000000L)
  }

  test("q_cliffs_delta: identical channels give delta 0, A 1/2") {
    val rows = (0 until 20).flatMap { i =>
      Seq((day0 + i * 1000000L, i.toLong, "view", 50.0 + (i % 5)),
        (day0 + (100 + i) * 1000000L, i.toLong, "purchase", 50.0 + (i % 5)))
    }
    val out = byName("q_cliffs_delta")(spark, eventsDir(rows)).head()
    assert(out.getAs[Long]("cliffs_delta_ppm") === 0L)
    assert(out.getAs[Long]("vargha_a_ppm") === 500000L)
  }

  test("q_theil_decomposition: equal values carry zero inequality") {
    val rows = (0 until 30).map(i =>
      (day0 + i * 1000000L, i.toLong,
        Seq("view", "click", "purchase")(i % 3), 42.0))
    val out = byName("q_theil_decomposition")(spark, eventsDir(rows)).head()
    assert(out.getAs[Double]("theil_total") === 0.0)
    assert(out.getAs[Double]("theil_within") === 0.0)
    assert(out.getAs[Double]("theil_between") === 0.0)
  }

  test("q_theil_decomposition: channel-constant values are pure " +
    "between-group inequality") {
    val rows = (0 until 30).map(i =>
      (day0 + i * 1000000L, i.toLong,
        Seq("view", "click", "purchase")(i % 3),
        Seq(10.0, 100.0, 1000.0)(i % 3)))
    val out = byName("q_theil_decomposition")(spark, eventsDir(rows)).head()
    assert(out.getAs[Double]("theil_within") === 0.0)
    assert(out.getAs[Double]("theil_between") > 0.3)
    assert(out.getAs[Double]("theil_total") ===
      out.getAs[Double]("theil_between"))
  }

  test("q_mcc_fbeta: a perfectly separating rule scores 1 everywhere") {
    val rows = (0 until 20).map(i =>
      (day0 + i * 1000000L, i.toLong, "purchase", 200.0)) ++
      (0 until 20).map(i =>
        (day0 + (100 + i) * 1000000L, i.toLong, "view", 50.0))
    val out = byName("q_mcc_fbeta")(spark, eventsDir(rows)).head()
    assert(out.getAs[Double]("mcc") === 1.0)
    assert(out.getAs[Double]("f2") === 1.0)
    assert(out.getAs[Double]("balanced_accuracy") === 1.0)
    assert(out.getAs[Long]("fp") === 0L)
  }

  test("io_bucketed_join: the join reads buckets and never shuffles " +
    "on the join key") {
    QueryDef.withConf(spark, "spark.sql.autoBroadcastJoinThreshold" -> "-1") {
      val df = byName("io_bucketed_join")(spark, "/root/testdata/sf0.001")
      df.collect() // force execution so AQE finalizes the plan
      val plan = df.queryExecution.executedPlan.toString
      assert(plan.contains("Bucketed: true"), plan)
      assert(!plan.contains("hashpartitioning(o_orderkey") &&
        !plan.contains("hashpartitioning(l_orderkey"),
        s"join key shuffled:\n$plan")
      assert(df.count() === 5L)
    }
  }

  /** independent Viterbi reference with the query's integer tables */
  private def refViterbi(obs: Seq[Int]): (Long, Long, Int) = {
    val init = Array(-693147181L, -693147181L)
    val tr = Array(Array(-105360516L, -2302585093L),
      Array(-1609437912L, -223143551L))
    def em(s: Int, x: Int): Long =
      if (s == 0) { if (x == 1) -1609437912L else -223143551L }
      else { if (x == 1) -356674944L else -1203972804L }
    var d = Array(init(0) + em(0, obs.head), init(1) + em(1, obs.head))
    val parents = obs.tail.map { x =>
      val c = Array.tabulate(2, 2)((i, j) => d(i) + tr(i)(j))
      val p = Array(if (c(1)(0) > c(0)(0)) 1 else 0,
        if (c(1)(1) > c(0)(1)) 1 else 0)
      d = Array(math.max(c(0)(0), c(1)(0)) + em(0, x),
        math.max(c(0)(1), c(1)(1)) + em(1, x))
      p
    }
    var cur = if (d(1) > d(0)) 1 else 0
    var cnt = cur.toLong
    parents.reverse.foreach { p => cur = p(cur); cnt += cur }
    (math.max(d(0), d(1)), cnt, if (d(1) > d(0)) 1 else 0)
  }

  /** events with `c(k)` events on day k */
  private def countDays(cs: Seq[Int]): String =
    eventsDir(cs.zipWithIndex.flatMap { case (c, k) =>
      (0 until c).map(i =>
        (day0 + k * 86400000000L + i * 1000000L, i.toLong, "view", 1.0))
    })

  test("q_viterbi_states: a uniformly calm stream decodes to zero busy days") {
    val out = byName("q_viterbi_states")(spark,
      countDays(Seq.fill(8)(2))).head()
    // equal counts: every day's c·n = tot → all days "high"... craft
    // below-mean days instead: one spike makes the rest low
    val out2 = byName("q_viterbi_states")(spark,
      countDays(Seq(20) ++ Seq.fill(7)(2))).head()
    assert(out2.getAs[Long]("n_busy_days") <= 1L)
    assert(out.getAs[Long]("n_days") === 8L)
  }

  test("q_viterbi_states: matches the independent reference DP") {
    val cs = Seq(2, 2, 9, 9, 9, 2, 2, 9, 2, 2)
    val n = cs.length; val tot = cs.sum
    val obs = cs.map(c => if (c.toLong * n >= tot) 1 else 0)
    val (lp, busy, last) = refViterbi(obs)
    val out = byName("q_viterbi_states")(spark, countDays(cs)).head()
    assert(out.getAs[Long]("map_logprob_nano") === lp)
    assert(out.getAs[Long]("n_busy_days") === busy)
    assert(out.getAs[Long]("last_state") === last.toLong)
  }

  test("q_bayes_ab: matches the independent Beta-Binomial reference") {
    val out = byName("q_bayes_ab")(spark, "/root/testdata/sf0.001").head()
    val (na, ca) = (out.getAs[Long]("n_a").toInt,
      out.getAs[Long]("conv_a").toInt)
    val (nb, cb) = (out.getAs[Long]("n_b").toInt,
      out.getAs[Long]("conv_b").toInt)
    val ref = refBayes(ca + 1, na - ca + 1, cb + 1, nb - cb + 1)
    assert(math.abs(out.getAs[Double]("prob_b_beats_a") - ref) < 1e-4)
  }
}
