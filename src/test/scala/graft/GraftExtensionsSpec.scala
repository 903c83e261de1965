package graft

import org.apache.spark.sql.functions.lit

/** The SQL surface: a session built with
  * `spark.sql.extensions=graft.GraftExtensions` (the shared test
  * session sets it) resolves every custom function from plain SQL. */
class GraftExtensionsSpec extends GraftSpec {

  test("custom functions resolve from pure SQL") {
    val r = spark.sql(
      """SELECT
        |  vec_dot(array(1.0d, 2.0d), array(3.0d, 4.0d)) AS dot,
        |  cosine_sim(array(1.0d, 0.0d), array(1.0d, 0.0d)) AS cos,
        |  graft_rolling_hash('ab') AS rh,
        |  graft_lang_id('the cat and the dog is here') AS lang,
        |  graft_simhash(graft_tokens60('a b c'), 32) AS sh
        |""".stripMargin).head()
    assert(r.getDouble(0) === 11.0)
    assert(r.getDouble(1) === 1.0)
    assert(r.getLong(2) === 3105L)
    assert(r.getString(3) === "en")
    assert(r.getLong(4) >= 0L)
  }

  test("graft_percentile aggregates from SQL with exact interpolation") {
    spark.range(1, 5).createOrReplaceTempView("t")
    val r = spark.sql(
      "SELECT graft_percentile(CAST(id AS DOUBLE), array(0.25d, 0.5d)) FROM t")
      .head().getSeq[Double](0)
    assert(math.abs(r(0) - 1.75) < 1e-12)
    assert(math.abs(r(1) - 2.5) < 1e-12)
  }

  test("round-7 functions resolve from pure SQL") {
    val r = spark.sql(
      """SELECT
        |  graft_char_entropy('abcd') AS ent,
        |  graft_bpe_token_count('hello world42') AS toks,
        |  graft_shingle_strings('a b c', 2) AS sh
        |""".stripMargin).head()
    assert(math.abs(r.getDouble(0) - 2.0) < 1e-8)
    assert(r.getInt(1) === 3) // hello | world | 42
    assert(r.getSeq[String](2) === Seq("a b", "b c"))
  }

  test("graft_heavy_hitters aggregates from SQL") {
    // 'hot' has 34 of 100 occurrences — above the N/(k+1) = 100/9
    // guarantee threshold, so MG MUST retain it through the merges
    // (a 10%-frequency term would be legitimately droppable at k=8)
    spark.range(0, 100).selectExpr("CASE WHEN id % 3 = 0 THEN 'hot' ELSE concat('c', id) END AS term")
      .createOrReplaceTempView("hh_t")
    val top = spark.sql("SELECT graft_heavy_hitters(term, 8) FROM hh_t")
      .head().getSeq[org.apache.spark.sql.Row](0)
    assert(top.head.getString(0) === "hot")
    assert(top.head.getLong(1) <= 34L) // lower bound never exceeds truth
  }

  test("bench-shaped SQL: cosine top-k over a temp view resolves and runs") {
    import spark.implicits._
    Seq((1L, Seq(1.0, 0.0)), (2L, Seq(0.9, 0.1)), (3L, Seq(0.0, 1.0)))
      .toDF("vec_id", "embedding").createOrReplaceTempView("emb")
    val rows = spark.sql(
      """SELECT a.vec_id, b.vec_id AS nb,
        |       cosine_sim(a.embedding, b.embedding) AS sim
        |FROM emb a JOIN emb b ON a.vec_id < b.vec_id
        |ORDER BY sim DESC LIMIT 1""".stripMargin).head()
    assert((rows.getLong(0), rows.getLong(1)) === ((1L, 2L)))
  }

  test("the functions the wrappers used to add resolve from pure SQL") {
    val handle = graft.functions.BloomFunctions.buildBroadcast(
      spark.range(0, 10).toDF("k"), "k", 10L, 0.01)
    val r = spark.sql(
      s"""SELECT
         |  graft_tokens_all60('a b a') AS toks,
         |  graft_shingles_pos60('a b c', 2, 'p') AS pos,
         |  lsh_signatures(array(1.0d, -1.0d), 2, 3, 2) AS lsh,
         |  graft_bloom_might_contain(3L, $handle) AS hit
         |""".stripMargin).head()
    assert(r.getSeq[Long](0).size === 3)
    assert(r.getSeq[Long](1).size === 2)
    assert(r.getSeq[Long](2).size === 2)
    assert(r.getBoolean(3))
  }

  test("a Column wrapper registers its function again after it is dropped") {
    import org.apache.spark.sql.catalyst.FunctionIdentifier
    val reg = spark.sessionState.functionRegistry
    assert(reg.dropFunction(FunctionIdentifier("graft_rolling_hash")))
    val c = graft.functions.TextHashFunctions.rollingHash(lit("ab"))
    assert(spark.range(1).select(c).head().getLong(0) === 3105L)
    assert(spark.sql("SELECT graft_rolling_hash('ab')").head().getLong(0) === 3105L)
  }

  test("graft_shingles_pos60 rejects a non-foldable prefix") {
    val e = intercept[Exception](spark.range(1)
      .selectExpr("graft_shingles_pos60('a b c', 2, cast(id AS string))").head())
    assert(e.getMessage.contains("foldable"))
  }
}
