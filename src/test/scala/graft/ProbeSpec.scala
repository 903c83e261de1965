package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The audits `graft.Probe` runs per query: cache leaks, every executed
  * plan, and records through single-partition exchanges. */
class ProbeSpec extends GraftSpec {

  private val sfDir = "/root/testdata/sf0.001"

  private def probe(name: String)(fn: (SparkSession, String) => DataFrame) = {
    val p = new Probe(spark)
    try p.run(name, sfDir, fn) finally p.close()
  }

  test("a persisted frame left unreleased is reported as a leak and released") {
    var leaked: DataFrame = null
    val r = probe("leaky") { (s, _) =>
      leaked = s.range(0, 100).toDF("id").persist()
      leaked.count()
      leaked
    }
    assert(r.failure.isEmpty)
    assert(r.leak.nonEmpty)
    assert(leaked.storageLevel === org.apache.spark.storage.StorageLevel.NONE)
    assert(spark.sharedState.cacheManager.isEmpty)
    assert(probe("clean")((s, _) => s.range(0, 100).toDF("id")).leak.isEmpty)
  }

  test("a body with two actions yields two executed plans") {
    val r = probe("two_actions") { (s, _) =>
      val n = s.range(0, 50).count()
      s.range(0, n).toDF("id")
    }
    assert(r.plans.size === 2)
  }

  test("an unpartitioned Window.orderBy counts its rows through SinglePartition under AQE") {
    assert(spark.conf.get("spark.sql.adaptive.enabled") === "true")
    val r = probe("global_window") { (s, _) =>
      s.range(0, 1000, 1, 4).toDF("id")
        .withColumn("rn", row_number().over(Window.orderBy(col("id"))))
    }
    assert(r.singlePartitionMax === 1000L)
    assert(probe("local")((s, _) => s.range(0, 1000, 1, 4).toDF("id"))
      .singlePartitionMax === 0L)
  }

  test("q_ripley_k and q_ripley_k_grid expose their intermediate digest plans") {
    import org.apache.spark.sql.execution.FileSourceScanExec
    import org.apache.spark.sql.execution.window.WindowExec
    // each query collects a one-row digest (the `pairs` and `wsum`
    // aggregates), then builds its result from that local relation: the
    // final plan is a LocalTableScan stub, the intermediate one carries
    // the real pipeline from the events scan up
    val plans = Seq("q_ripley_k", "q_ripley_k_grid").map { q =>
      val r = probe(q)(SparkEntry.queries(q))
      assert(r.failure.isEmpty && r.leak.isEmpty)
      assert(r.plans.size >= 2)
      q -> r.plans.map(qe => Probe.nodes(qe.executedPlan))
    }.toMap
    assert(plans.values.map(_.size).sum >= 3)
    plans.values.foreach(ps =>
      assert(ps.exists(_.exists(_.isInstanceOf[FileSourceScanExec]))))
    assert(plans("q_ripley_k_grid").exists(_.exists(_.isInstanceOf[WindowExec])))
  }
}
