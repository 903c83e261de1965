package perfbench

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.SparkEntry
import Main.{Opts, Result}
import Workloads._

/** A fixed sample of the registered queries (every k-th name in sorted
  * order) run by one client in a closed loop; each result goes to the
  * `noop` sink. The seed only shuffles the order. */
final class QueryMix(k: Int) extends Workload {

  def names(seed: Long): Seq[String] = Stats.order(Stats.sample(SparkEntry.queries.keys, k), seed)

  /** Set-up: a session and its first job. The tables are copied into
    * the setup's scratch space first, so no artifact of an earlier
    * set-up is reused. `graft.Bench`'s warm-up queries and one-time
    * artifact builds are left to the sampled queries, so their cost
    * lands in the cold pass. */
  private def setup(o: Opts)(spark: SparkSession, scratch: Env.Scratch): Unit = {
    Env.copyTree(o.data, scratch.root.resolve("data"))
    spark.range(0, 1000000, 1, 4).selectExpr("sum(id)").collect()
  }

  private def noop(df: DataFrame): Unit = df.write.mode("overwrite").format("noop").save()

  /** Run one query; returns its wall seconds, or None when it threw. */
  private def one(spark: SparkSession, d: String, name: String): Option[Double] = {
    // this query memoizes its grouping on purpose; every run recomputes
    if (name == "dedup_neardup_groups") graft.queries.ExtQueries.invalidateNearDupGroups()
    val t0 = System.nanoTime()
    try {
      noop(SparkEntry.queries(name)(spark, d))
      Some((System.nanoTime() - t0) / 1e9)
    } catch { case e: Exception =>
      System.err.println(s"[perfbench] $name failed: $e")
      None
    }
  }

  def run(o: Opts): Result = if (o.trace) traced(o) else untraced(o)

  private def untraced(o: Opts): Result = {
    val order = names(o.seed)
    val (spark, scratch, setupS) = Main.setupRepeated(o, Setups)(setup(o))
    val d = scratch.root.resolve("data").toString
    withSession(spark) {
      var attempted, failed = 0L
      def pass(): Seq[(String, Double)] = order.flatMap { q =>
        attempted += 1
        val t = one(spark, d, q)
        if (t.isEmpty) failed += 1
        t.map(q -> _)
      }
      Env.settle()
      val (_, coldS) = Env.timed(pass())
      Env.log(f"cold pass: $coldS%.2fs")
      val end = deadline(o.seconds)
      val warm = mutable.ArrayBuffer.empty[(String, Double)]
      var warmS = 0.0
      var passes = 0
      // whole passes only, so every sampled query weighs the same; three
      // at least, so that each query's median shrugs off one slow pass
      while (passes < 3 || System.nanoTime() < end) {
        Env.settle()
        val (ts, s) = Env.timed(pass())
        warm ++= ts
        warmS += s
        passes += 1
        Env.log(f"warm pass $passes: $s%.2fs")
      }
      val latencies = warm.map(_._2).toSeq
      val p90 = Stats.tailPercentile(latencies, 90)
      val values = Map(
        "setup_s" -> Stats.median(setupS),
        "ops_per_s" -> warm.size / warmS,
        "op_gmean_s" -> Stats.typical(warm.toSeq),
        "cold_pass_s" -> coldS)
      val checks = new Checks
      checks.check(failed == 0, s"$failed of $attempted queries failed")
      Result(checks.passed, attempted, failed, Metrics.complete(Metrics.endToEnd, values),
        Map("qps" -> values("ops_per_s"), "query_p50_s" -> Stats.median(latencies),
          "query_p90_s" -> p90.map(_.value), "query_p90_pct" -> p90.map(_.pct),
          "warm_samples" -> warm.size, "warm_passes" -> passes,
          "failed_ratio" -> failed.toDouble / attempted,
          "sampled" -> order.size, "stride" -> k, "setup_runs_s" -> setupS),
        checks.failures.toSeq)
    }
  }

  private def traced(o: Opts): Result = {
    val order = names(o.seed)
    Tracer.resetPeakHeap()
    val jvm0 = Tracer.jvmSnapshot()
    val (spark, scratch, setupS) = Main.setupRepeated(o, 1)(setup(o))
    val d = scratch.root.resolve("data").toString
    withSession(spark) {
      val (cold, coldS) = Env.timed(order.map(q => q -> one(spark, d, q)))
      val results = mutable.ArrayBuffer.empty[Option[Double]]
      def plain() = Env.timed(results ++= order.map(q => one(spark, d, q)))._2
      val before = plain()
      val tr = new Tracer(spark, runId(o))
      tr.install()
      val timed = try tr.span("pass") {
        order.map(q => q -> tr.span(Stats.family(q)) { tr.span(q) { one(spark, d, q) } })
      } finally tr.uninstall()
      // the JIT is still warming: compare with the passes on either side
      val untracedS = (before + plain()) / 2
      val failed = (cold ++ timed).count(_._2.isEmpty) + results.count(_.isEmpty)
      // row counts for the oracle comparison, outside the traced pass
      val oracles = SparkEntry.oracleSql
      val oracle = order.filter(oracles.contains).map { q =>
        val rows = try SparkEntry.queries(q)(spark, d).count() catch { case _: Exception => -1L }
        Map("name" -> q, "rows" -> rows, "sql" -> oracles(q))
      }
      val pass = tr.totals("pass")
      val perQuery = timed.flatMap(_._2)
      val values = Stats.families.map(f => s"queries.${f}_s" -> tr.seconds(f)).toMap ++ Map(
        "queries.jobs_per_query" -> pass.jobs.toDouble / order.size,
        "streaming.batches" -> pass.batches.toDouble,
        "streaming.commit_ms" -> pass.commitMs.toDouble,
        "streaming.state_rows" -> pass.stateRows.values.sum.toDouble,
        "tracing.overhead_s" -> (tr.seconds("pass") - untracedS)) ++
        catalyst(pass) ++ exchange(pass) ++ scheduler(pass) ++ jvmDelta(jvm0)
      val perLayer = Metrics.complete(Metrics.perLayer, values)
      val checks = new Checks
      checks.check(failed == 0, s"$failed queries failed")
      Result(checks.passed, 4L * order.size, failed.toLong, perLayer,
        Map("setup_s" -> setupS.head, "cold_pass_s" -> coldS, "untraced_pass_s" -> untracedS,
          "traced_pass_s" -> tr.seconds("pass"),
          "query_p50_s" -> (if (perQuery.isEmpty) 0.0 else Stats.median(perQuery))),
        checks.failures.toSeq,
        artifact(o, perLayer, tr, Map("queries" -> order)),
        oracle)
    }
  }
}
