package graft

import org.apache.spark.sql.{DataFrame, SparkSession, functions}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The `graft.Probe` collector and the audits `Probe.main` runs per
  * query: cache leaks, every executed plan, records through
  * single-partition exchanges, shuffle bytes and stage names; and
  * `Bench`'s runner over it. */
class ProbeSpec extends GraftSpec {

  private val sfDir = "/root/testdata/sf0.001"

  /** One collector run, then the leak audit `Probe.main` runs. */
  private def probe(name: String)(fn: (SparkSession, String) => DataFrame) = {
    val p = new Probe(spark)
    try {
      val r = p.run(name, sfDir, fn)
      r.copy(leak = p.reclaimCaches())
    } finally p.close()
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

  test("a cleaned sync pass exported to parquet leaves no cache behind: Clean's checkpoints are GC-owned") {
    import graft.clean.Clean
    import graft.sources.SampleData
    import graft.sync.Synchronize
    val out = tempDir("graft-probe-export").resolve("sync")
    try {
      val r = probe("clean_sync_export") { (s, _) =>
        val cam = Clean.clean(SampleData.camera(s, n = 500), "camera")._1
        val mot = Clean.clean(SampleData.motion(s, n = 600), "motion")._1
        val log = Clean.clean(SampleData.log(s, n = 100), "log")._1
        val (synced, _) = Synchronize.synchronize(s, cam, mot, Some(log))
        graft.io.Export.parquet(synced, out.toString)
        s.read.parquet(out.toString)
      }
      assert(r.failure.isEmpty, r.failure)
      assert(r.leak === None)
    } finally org.apache.commons.io.FileUtils.deleteDirectory(out.getParent.toFile)
  }

  test("max_method_bytes: a wide CASE projection exceeds the 8,000-byte JIT limit, a range sum does not") {
    val wide = probe("wide_case") { (s, _) =>
      val id = col("id")
      // 16 CASEs of 20 branches, inlined into one generated method
      s.range(0, 100).select((0 until 16).map { j =>
        (1 until 20).foldLeft(when(id % 97 === j, id)) { (c, k) =>
          c.when(id % 97 === (j * 20 + k) % 97, id * k + j)
        }.as(s"c$j")
      }: _*)
    }
    assert(wide.failure.isEmpty, wide.failure)
    assert(wide.maxMethodBytes > 8000, wide.maxMethodBytes)
    val sum = probe("range_sum")((s, _) => s.range(0, 1000).agg(functions.sum("id")))
    assert(sum.maxMethodBytes > 0 && sum.maxMethodBytes < 8000, sum.maxMethodBytes)
    assert(sum.json.contains(s""""max_method_bytes":${sum.maxMethodBytes},"""))
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

  test("a repartitioned frame reports shuffle bytes; a narrow range reports none") {
    val wide = probe("wide")((s, _) => s.range(0, 10000, 1, 4).toDF("id").repartition(3))
    assert(wide.failure.isEmpty)
    assert(wide.shuffleWriteBytes > 0L)
    assert(wide.shuffleReadBytes > 0L)
    val narrow = probe("narrow")((s, _) => s.range(0, 10000, 1, 4).toDF("id"))
    assert(narrow.shuffleWriteBytes === 0L)
    assert(narrow.shuffleReadBytes === 0L)
  }

  test("the report's stages are named after the query") {
    val r = probe("named_query")((s, _) =>
      s.range(0, 1000, 1, 4).toDF("id").groupBy(col("id") % 7).count())
    assert(r.stages.nonEmpty)
    assert(r.stages.forall(_.name == "named_query"), r.stages.map(_.name).mkString(", "))
  }

  test("a stream's stages are named after the query, not the stream's start call site") {
    val r = probe("q_stream_sessionize")(SparkEntry.queries("q_stream_sessionize"))
    assert(r.failure.isEmpty)
    assert(r.batches > 0)
    assert(r.stages.nonEmpty)
    assert(r.stages.forall(_.name == "q_stream_sessionize"),
      r.stages.map(_.name).distinct.mkString(", "))
  }

  test("a name-filtered Bench or ScaleBench run writes its own artifact, never the full-suite file") {
    assert(Bench.outPath("bench_full", None) === "bench_full.json")
    assert(Bench.outPath("BENCH_scale", None) === "BENCH_scale.json")
    val subset = Bench.outPath("BENCH_scale", Some(Seq("q_stream_join", "q_sessionize")))
    assert(subset.matches("BENCH_scale_only_[0-9a-f]{8}\\.json"), subset)
    // keyed by the distinct sorted names: order and repeats do not matter
    assert(Bench.outPath("BENCH_scale",
      Some(Seq("q_sessionize", "q_stream_join", "q_sessionize"))) === subset)
    assert(Bench.outPath("BENCH_scale", Some(Seq("q_sessionize"))) !== subset)
    assert(Bench.outPath("bench_full", Some(Seq("q_sessionize", "q_stream_join"))) ===
      subset.replace("BENCH_scale", "bench_full"))
  }

  test("Bench's runner writes every query under queries, jobs and layers") {
    val names = Seq("a1_minmax", "q1_pricing_summary")
    val artifactSec = Seq("stage-a" -> 1.5, "stage-b" -> 0.25)
    val (full, line) = Bench.run(spark, sfDir, names, artifactSec, "bench_full_test.json")
    val json = new com.fasterxml.jackson.databind.ObjectMapper().readTree(full)
    assert(json.get("n_queries").asInt === 2)
    assert(json.get("index_build_sec").asDouble === 1.75)
    assert(json.get("artifact_sec").get("stage-a").asDouble === 1.5)
    assert(json.get("artifact_sec").get("stage-b").asDouble === 0.25)
    assert(json.get("failed").size === 0)
    for (key <- Seq("queries", "jobs", "layers"); n <- names)
      assert(json.get(key).has(n), s"$n missing under $key")
    names.foreach { n =>
      val layer = json.get("layers").get(n)
      assert(layer.get("jobs").asInt === json.get("jobs").get(n).asInt)
      assert(layer.get("jobs").asInt > 0)
      assert(layer.get("stages").get("n_stages").asInt > 0)
      assert(layer.get("plans").asInt > 0)
      assert(layer.get("failure").isNull)
    }
    val compact = new com.fasterxml.jackson.databind.ObjectMapper().readTree(line)
    assert(compact.get("full").asText === "bench_full_test.json")
    assert(compact.get("queries").has("q1_pricing_summary"))
  }
}
