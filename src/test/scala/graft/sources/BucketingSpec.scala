package graft.sources

import graft.GraftSpec
import graft.queries.QueryDef
import org.apache.spark.sql.functions._

/** Bucketed-join law: two tables bucketed on the join key with the
  * same bucket count join with NO shuffle exchange on either side —
  * the whole point of paying the bucketed write. */
class BucketingSpec extends GraftSpec {

  test("join of same-key bucketed tables elides both exchanges") {
    import spark.implicits._
    try QueryDef.withConf(spark,
        "spark.sql.autoBroadcastJoinThreshold" -> "-1") {
      (1L to 100L).map(k => (k, s"o$k")).toDF("o_orderkey", "o_tag")
        .write.mode("overwrite")
        .bucketBy(4, "o_orderkey").sortBy("o_orderkey")
        .format("parquet").saveAsTable("graft_spec_orders_b")
      (1L to 300L).map(i => (i % 100 + 1, i.toDouble)).toDF("l_orderkey", "l_v")
        .write.mode("overwrite")
        .bucketBy(4, "l_orderkey").sortBy("l_orderkey")
        .format("parquet").saveAsTable("graft_spec_lineitem_b")

      val joined = spark.table("graft_spec_lineitem_b")
        .join(spark.table("graft_spec_orders_b"),
          col("l_orderkey") === col("o_orderkey"))
      val plan = joined.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange"),
        s"bucketed join should have no shuffle exchange; plan:\n$plan")
      assert(joined.count() === 300)

      // the unbucketed twin DOES shuffle — proves the assertion bites
      val plain = (1L to 300L).map(i => (i % 100 + 1, i.toDouble))
        .toDF("l_orderkey", "l_v")
        .join((1L to 100L).map(k => (k, s"o$k")).toDF("o_orderkey", "o_tag"),
          col("l_orderkey") === col("o_orderkey"))
      assert(plain.queryExecution.executedPlan.toString.contains("Exchange"))
    } finally {
      spark.sql("DROP TABLE IF EXISTS graft_spec_orders_b")
      spark.sql("DROP TABLE IF EXISTS graft_spec_lineitem_b")
    }
  }

  test("the bucketed artifact is registered again when the catalog lost it") {
    import spark.implicits._
    val old = System.getProperty("java.io.tmpdir")
    val root = java.nio.file.Files.createTempDirectory("graft-bucketing")
    System.setProperty("java.io.tmpdir", root.toString)
    try {
      val dir = s"$root/ds"
      (1L to 100L).map(k => (k, s"p${k % 5}")).toDF("o_orderkey", "o_orderpriority")
        .write.parquet(s"$dir/orders.parquet")
      (1L to 300L).map(i => (i % 100 + 1, i.toDouble)).toDF("l_orderkey", "l_v")
        .write.parquet(s"$dir/lineitem.parquet")
      val (o, l) = Bucketing.ensureOrderBucketed(spark, dir)
      // a new JVM's catalog knows neither table; the files are on disk
      spark.sql(s"DROP TABLE $o"); spark.sql(s"DROP TABLE $l")
      assert(Bucketing.ensureOrderBucketed(spark, dir) === ((o, l)))
      QueryDef.withConf(spark, "spark.sql.autoBroadcastJoinThreshold" -> "-1") {
        val joined = Bucketing.lineitemBucketed(spark, dir)
          .join(Bucketing.ordersBucketed(spark, dir), col("l_orderkey") === col("o_orderkey"))
        assert(joined.count() === 300)
        val plan = joined.queryExecution.executedPlan.toString
        assert(plan.contains("Bucketed: true") && !plan.contains("Exchange"), plan)
      }
      spark.sql(s"DROP TABLE $o"); spark.sql(s"DROP TABLE $l")
    } finally {
      System.setProperty("java.io.tmpdir", old)
      java.nio.file.Files.walk(root).sorted(java.util.Comparator.reverseOrder())
        .forEach(p => java.nio.file.Files.deleteIfExists(p))
    }
  }
}
