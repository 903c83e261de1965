package perfbench

import org.apache.spark.sql.SparkSession

import Main.{Opts, Result}

trait Workload {
  def run(o: Opts): Result
}

object Workloads {

  /** Set-ups per untraced run; `setup_s` is their median. */
  val Setups = 5

  val byName: Map[String, Workload] = Map(
    "sensor_clean_sync" -> new SensorWorkload(clean = true, n = 50000L, checkN = 30000L),
    "sensor_sync_raw" -> new SensorWorkload(clean = false, n = 100000L, checkN = 30000L),
    "query_mix" -> new QueryMix(k = 72))

  private[perfbench] def jvmDelta(from: Tracer.JvmSnapshot): Map[String, Double] = {
    val now = Tracer.jvmSnapshot()
    Map("codegen.compile_ms" -> (now.compileNs - from.compileNs) / 1e6,
      "codegen.compiles" -> (now.compiles - from.compiles).toDouble,
      "jvm.gc_s" -> (now.gcMs - from.gcMs) / 1e3,
      "jvm.peak_heap_mb" -> Tracer.peakHeapMb)
  }

  private[perfbench] def scheduler(a: Tracer.Acc): Map[String, Double] = Map(
    "scheduler.jobs" -> a.jobs.toDouble, "scheduler.stages" -> a.stages.toDouble,
    "scheduler.tasks" -> a.tasks.toDouble, "scheduler.task_s" -> a.taskMs / 1e3,
    "scheduler.executor_cpu_s" -> a.cpuNs / 1e9)

  private[perfbench] def catalyst(a: Tracer.Acc): Map[String, Double] = Map(
    "catalyst.analysis_ms" -> a.analysisMs.toDouble,
    "catalyst.optimization_ms" -> a.optimizationMs.toDouble,
    "catalyst.planning_ms" -> a.planningMs.toDouble)

  private[perfbench] def exchange(a: Tracer.Acc): Map[String, Double] = Map(
    "exchange.shuffle_read_bytes" -> a.shuffleRead.toDouble,
    "exchange.shuffle_write_bytes" -> a.shuffleWrite.toDouble,
    "exchange.spill_bytes" -> a.spill.toDouble)

  /** Traced-run artifact: per-layer values, each with its unit and the
    * end-to-end metric it should move, plus the raw spans. */
  private[perfbench] def artifact(o: Opts, perLayer: Map[String, (Double, String)],
                                  tr: Tracer, extra: Map[String, Any]): Map[String, Any] =
    Map("workload" -> o.workload, "seed" -> o.seed, "run" -> tr.runId,
      "per_layer" -> perLayer.map { case (k, (v, u)) =>
        k -> Map("value" -> v, "unit" -> u, "target" -> Metrics.targets(k)) },
      "spans" -> tr.render) ++ extra

  def runId(o: Opts): String = s"${o.workload}-${o.seed}-${ProcessHandle.current().pid()}"

  def deadline(seconds: Int): Long = System.nanoTime() + seconds * 1000000000L

  def withSession[T](spark: SparkSession)(body: => T): T =
    try body finally Env.stop(spark)
}
