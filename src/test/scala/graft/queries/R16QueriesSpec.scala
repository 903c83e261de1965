package graft.queries

import graft.GraftSpec
import org.apache.spark.sql.functions._

/** Laws for the round-14 extension kernels: fixtures with closed-form
  * outcomes a same-formula-on-both-engines slip could not fake — a
  * duplicated corpus must leave the HLL registers (and estimate)
  * bit-identical, engineered documents trip exactly one Gopher rule
  * each, and a single spiked day reproduces Grubbs' G from first
  * principles — plus range sanity on the real sf0.001 tables.
  */
class R16QueriesSpec extends GraftSpec {

  private def byName(name: String) =
    R16Queries.defs.find(_.name == name).get.fn

  private def docsDir(texts: Seq[String]): String = {
    import spark.implicits._
    val dir = tempDir("r16doc").toString
    texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("doc_id", "text")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    dir
  }

  private val day0 = 1704067200000000L // 2024-01-01 (Mon) UTC micros
  private val dayUs = 86400000000L

  /** events dir where day i carries exactly counts(i) view rows. */
  private def countsDir(counts: Seq[Long]): String = {
    import spark.implicits._
    val dir = tempDir("r16ev").toString
    val rows = counts.zipWithIndex.flatMap { case (c, i) =>
      (0L until c).map(j =>
        (i * 1000L + j, day0 + i * dayUs + j * 1000000L, j, "view", 1.0, "{}"))
    }
    rows.toDF("event_id", "__us", "user_id", "event_type", "value", "props")
      .withColumn("ts", timestamp_micros(col("__us"))).drop("__us")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    dir
  }

  test("corpus_hll_distinct: duplicating the corpus leaves the sketch " +
    "AND estimate unchanged; error stays inside the m=256 envelope") {
    // 300 docs of 9 distinct tokens each -> 300*7 distinct shingles
    val texts = (0 until 300).map(d =>
      (0 until 9).map(w => s"t${d}_$w").mkString(" "))
    val once = byName("corpus_hll_distinct")(spark, docsDir(texts)).head()
    val twice = byName("corpus_hll_distinct")(
      spark, docsDir(texts ++ texts)).head()
    assert(once.getAs[Long]("n_exact") === 2100L)
    assert(twice.getAs[Long]("n_exact") === 2100L)
    // max-register sketches are duplicate-insensitive BY CONSTRUCTION
    assert(once.getAs[Long]("hll_estimate") === twice.getAs[Long]("hll_estimate"))
    assert(once.getAs[Long]("n_empty_buckets") === twice.getAs[Long]("n_empty_buckets"))
    // 1.04/sqrt(256) ~ 6.5% typical; 4 sigma = 26%
    assert(once.getAs[Long]("err_ppm") < 260000L)
  }

  test("text_gopher_rules: engineered documents trip exactly one rule each") {
    val pass = ((0 until 50).map(i => s"word$i") ++
      Seq("the", "with")).mkString(" ") // 52 words, all rules green
    val short = "the with only four words"  // fails word count
    val thin = (0 until 60).map(_ => "a b").mkString(" ") +
      " the with" // mean word length < 3
    val symbol = ((0 until 50).map(i => s"word$i") ++
      Seq("the", "with") ++ (0 until 9).map(_ => "#")).mkString(" # ")
    val numeric = ((0 until 50).map(i => s"$i$i$i") ++
      Seq("the", "with")).mkString(" ") // <80% alphabetic words
    val out = byName("text_gopher_rules")(
      spark, docsDir(Seq(pass, short, thin, symbol, numeric))).head()
    assert(out.getAs[Long]("n_docs") === 5L)
    assert(out.getAs[Long]("pass_word_count") === 4L) // all but `short`
    assert(out.getAs[Long]("pass_mean_len") >= 3L)    // `thin` fails
    assert(out.getAs[Long]("pass_stopwords") === 5L)  // every doc has both
    assert(out.getAs[Long]("pass_all") === 1L)        // only `pass`
    assert(out.getAs[Long]("pass_core") === 1L)
  }

  test("q_grubbs_test: a single spiked day reproduces G from first " +
    "principles and is flagged") {
    // 9 days of 10 events + 1 day of 30: G = 180 / (10 * sqrt(40))
    val out = byName("q_grubbs_test")(
      spark, countsDir(Seq.fill(9)(10L) :+ 30L)).head()
    assert(out.getAs[Long]("n_days") === 10L)
    assert(out.getAs[String]("outlier_day") === "2024-01-10")
    val expected = 180.0 / (10.0 * math.sqrt(40.0))
    assert(math.abs(out.getAs[Double]("g") - expected) < 1e-5)
    assert(out.getAs[Long]("is_outlier") === 1L)
  }

  test("q_grubbs_test: near-constant series is not flagged") {
    val out = byName("q_grubbs_test")(
      spark, countsDir(Seq(10L, 11L, 10L, 11L, 10L, 11L, 10L, 11L, 10L, 11L))).head()
    assert(out.getAs[Long]("is_outlier") === 0L)
  }

  test("q_hampel_filter: a lone spike in a constant series is the " +
    "ONLY flagged day; its neighbors' windows absorb it") {
    // 15 constant days + a 10x spike at day 7: med stays 10 and
    // MAD stays 0 in every window, so only the spike itself exceeds
    // the (degenerate-MAD) threshold
    val counts = Seq.fill(7)(10L) ++ Seq(100L) ++ Seq.fill(7)(10L)
    val rows = byName("q_hampel_filter")(spark, countsDir(counts))
      .collect()
    assert(rows.length === 9) // 15 days - 6 edge days
    val flagged = rows.filter(_.getAs[Long]("is_outlier") == 1L)
    assert(flagged.map(_.getAs[String]("day")).toSeq === Seq("2024-01-08"))
    assert(flagged.head.getAs[Long]("med") === 10L)
    assert(flagged.head.getAs[Long]("mad") === 0L)
  }

  test("q_savgol_smooth: the quadratic-reproduction property — " +
    "sm_x35 == 35*x exactly on a quadratic series") {
    val counts = (0 until 10).map(i => ((i + 2).toLong * (i + 2)))
    val rows = byName("q_savgol_smooth")(spark, countsDir(counts))
      .collect()
    assert(rows.length === 6) // 10 days - 4 edge days
    rows.foreach { r =>
      assert(r.getAs[Long]("sm_x35") === 35L * r.getAs[Long]("x"),
        s"SG quadratic invariance broken at ${r.getAs[String]("day")}")
    }
  }

  test("range sanity on sf0.001") {
    val d = "/root/testdata/sf0.001"
    val hll = byName("corpus_hll_distinct")(spark, d).head()
    assert(hll.getAs[Long]("n_exact") > 1000L)
    assert(hll.getAs[Long]("err_ppm") < 400000L)
    val gop = byName("text_gopher_rules")(spark, d).head()
    assert(gop.getAs[Long]("n_docs") > 0L)
    assert(gop.getAs[Long]("pass_core") <= gop.getAs[Long]("pass_word_count"))
    val gr = byName("q_grubbs_test")(spark, d).head()
    assert(gr.getAs[Double]("g") > 0.0)
    assert(gr.getAs[Double]("g_crit") > 0.0)
  }
}
