package perfbench

/** The metric catalogue. Every run reports every metric of its kind:
  * untraced runs the end-to-end set, traced runs the per-layer set
  * (0 where a layer does not take part in the workload). Each
  * per-layer metric names the end-to-end metric it should move. */
object Metrics {

  final case class Metric(name: String, unit: String, target: String)

  /** One operation is one pipeline pass on the sensor workloads and one
    * query on the query mix. `op_gmean_s` is the geometric mean, over
    * the distinct operations, of each one's median warm latency. */
  val endToEnd: Seq[Metric] = Seq(
    Metric("setup_s", "s", ""),
    Metric("ops_per_s", "1/s", ""),
    Metric("op_gmean_s", "s", ""),
    Metric("cold_pass_s", "s", ""))

  // Targets use the workloads' own names (printed on every run's detail
  // line): rows_per_s is the sensor workload's input rows over its median
  // pass; qps is ops_per_s of the query mix; query_p50_s and query_p90_s
  // are the mix's per-query latency percentiles.
  private val throughput = "rows_per_s"
  private val queryRate = "qps,query_p50_s"

  val perLayer: Seq[Metric] = Seq(
    Metric("sources.gen_s", "s", throughput),
    Metric("sources.gen_rows", "count", throughput),
    Metric("sources.scaling_exp", "ratio", throughput),
    Metric("clean.s", "s", throughput),
    Metric("clean.report_jobs", "count", throughput),
    Metric("clean.rows_dropped", "count", throughput),
    Metric("clean.scaling_exp", "ratio", throughput),
    Metric("sync.s", "s", s"$throughput,query_p90_s"),
    Metric("sync.ticks", "count", throughput),
    Metric("sync.overlap_s", "s", throughput),
    Metric("sync.shuffle_write_bytes", "bytes", throughput),
    Metric("sync.task_skew", "ratio", throughput),
    Metric("sync.single_task_records", "count", throughput),
    Metric("sync.scaling_exp", "ratio", throughput),
    Metric("io.export_s", "s", throughput),
    Metric("io.bytes_written", "bytes", throughput),
    Metric("io.files", "count", throughput),
    Metric("io.scaling_exp", "ratio", throughput),
    Metric("exchange.shuffle_read_bytes", "bytes", throughput),
    Metric("exchange.shuffle_write_bytes", "bytes", throughput),
    Metric("exchange.spill_bytes", "bytes", throughput)) ++
    Stats.families.map(f => Metric(s"queries.${f}_s", "s", queryRate)) ++ Seq(
    Metric("queries.jobs_per_query", "count", queryRate),
    Metric("catalyst.analysis_ms", "ms", queryRate),
    Metric("catalyst.optimization_ms", "ms", queryRate),
    Metric("catalyst.planning_ms", "ms", queryRate),
    Metric("scheduler.jobs", "count", s"$throughput,$queryRate"),
    Metric("scheduler.stages", "count", s"$throughput,$queryRate"),
    Metric("scheduler.tasks", "count", s"$throughput,$queryRate"),
    Metric("scheduler.task_s", "s", s"$throughput,$queryRate"),
    Metric("scheduler.executor_cpu_s", "s", s"$throughput,$queryRate"),
    Metric("codegen.compile_ms", "ms", "cold_pass_s,setup_s"),
    Metric("codegen.compiles", "count", "cold_pass_s,setup_s"),
    Metric("streaming.batches", "count", "query_p90_s"),
    Metric("streaming.commit_ms", "ms", "query_p90_s"),
    Metric("streaming.state_rows", "count", "query_p90_s"),
    Metric("jvm.gc_s", "s", "setup_s"),
    Metric("jvm.peak_heap_mb", "MB", "setup_s"),
    Metric("tracing.overhead_s", "s", ""))

  /** Fill a workload's values into the full catalogue. */
  def complete(cat: Seq[Metric], values: Map[String, Double]): Map[String, (Double, String)] = {
    val unknown = values.keySet -- cat.map(_.name)
    require(unknown.isEmpty, s"metrics outside the catalogue: ${unknown.mkString(", ")}")
    cat.map(m => m.name -> ((values.getOrElse(m.name, 0.0), m.unit))).toMap
  }

  def targets: Map[String, String] = perLayer.map(m => m.name -> m.target).toMap
}
