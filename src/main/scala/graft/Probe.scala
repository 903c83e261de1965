package graft

import java.nio.file.{Files, Paths}

import scala.collection.mutable

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart,
  SparkListenerStageCompleted, SparkListenerTaskEnd}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.catalyst.plans.physical.SinglePartition
import org.apache.spark.sql.execution.{FormattedMode, QueryExecution, SparkPlan,
  WholeStageCodegenExec}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.execution.joins.{BroadcastNestedLoopJoinExec,
  CartesianProductExec}
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Per-query diagnostics: runs each query twice through the noop sink,
  * cold then warm, and explains where the time went.
  *
  * {{{
  * sbt "runMain graft.Probe <sfDir> <all|name,name,...> [planDir]"
  * }}}
  *
  * One line per query, `[probe] <name> {"cold":…,"warm":…,"leak":…}`,
  * with each run's `Report.json`: wall; Catalyst phase ms and Janino
  * compiles (the cold run pays them); jobs, the top stages (summed, max
  * and median task ms), executor CPU, shuffle bytes read and written
  * and spill; the most records through any `SinglePartition` exchange
  * (an unpartitioned `Window.orderBy` compiles to one, so a count that
  * grows with the input is a scale bug); `CartesianProduct` and
  * `BroadcastNestedLoopJoin` nodes; streaming batches, state-commit ms
  * and state rows; the largest generated method of any whole-stage
  * codegen stage (`max_method_bytes`: above HotSpot's 8,000-byte
  * `HugeMethodLimit` the JIT never compiles it, so that stage runs in
  * the bytecode interpreter); then the caches the query left behind. With
  * `planDir` set each warm-run plan is written to `<name>_<i>.txt`.
  *
  * A query that leaves a persisted RDD or a CacheManager entry behind
  * would flatter the next bench trial of the same query (it would read
  * the cached relation instead of recomputing) and leak memory into the
  * long-lived session; the probe reports it, releases the cache and
  * exits 1. */
object Probe {

  /** Local property naming the query a job runs for. */
  private val QueryKey = "graft.probe.query"

  final case class Stage(id: Int, name: String, tasks: Int, sumMs: Long,
      maxMs: Long, medMs: Long)

  /** One run's metrics. `leak` is filled in by a caller that reclaims
    * caches after the run (`main`); the collector itself leaves caches
    * alone, so `Bench` keeps its cross-query near-dup memo. */
  final case class Report(name: String, wallS: Double,
      phasesMs: Map[String, Long], compiles: Long, compileMs: Long,
      jobs: Int, stages: Seq[Stage], cpuS: Double,
      shuffleReadBytes: Long, shuffleWriteBytes: Long, spillBytes: Long,
      singlePartitionMax: Long, cartesian: Int, bnlj: Int,
      batches: Int, commitMs: Long, stateRows: Long, maxMethodBytes: Int,
      plans: Seq[QueryExecution], failure: Option[String],
      leak: Option[String] = None) {

    /** Stage count, summed task ms and the top stages: a wall far above
      * sum(top)/cores with MANY small stages is a sequential-barrier
      * chain, not a straggler — a different fix. */
    def stagesJson: String = {
      val top = stages.sortBy(-_.sumMs).take(3).map(s =>
        f"""{"stage":${s.id},"name":"${jsonSafe(s.name)}","tasks":${s.tasks},"sum_ms":${s.sumMs},"max_ms":${s.maxMs},"med_ms":${s.medMs},"skew":${s.maxMs.toDouble / math.max(s.medMs, 1L)}%.1f}""")
        .mkString("[", ",", "]")
      s"""{"n_stages":${stages.size},"sum_all_ms":${stages.map(_.sumMs).sum},"top":$top}"""
    }

    /** The run's layer split as one JSON object (`Bench`'s `layers`,
      * `Probe.main`'s lines). */
    def json: String = {
      val phases = phasesMs.toSeq.sorted
        .map { case (p, ms) => s""""$p":$ms""" }.mkString("{", ",", "}")
      f"""{"wall_s":$wallS%.3f,"phases_ms":$phases,"compiles":$compiles,"compile_ms":$compileMs,""" +
        f""""jobs":$jobs,"cpu_s":$cpuS%.3f,"shuffle_read_bytes":$shuffleReadBytes,""" +
        s""""shuffle_write_bytes":$shuffleWriteBytes,"spill_bytes":$spillBytes,""" +
        s""""single_partition_max":$singlePartitionMax,"cartesian":$cartesian,"bnlj":$bnlj,""" +
        s""""batches":$batches,"commit_ms":$commitMs,"state_rows":$stateRows,""" +
        s""""max_method_bytes":$maxMethodBytes,"plans":${plans.size},""" +
        s""""failure":${failure.fold("null")(f => "\"" + jsonSafe(f.take(200)) + "\"")},""" +
        s""""stages":$stagesJson}"""
    }
  }

  /** Keep hand-built JSON valid for any text: printable ASCII only, with
    * the two JSON-structural chars dropped. */
  private def jsonSafe(s: String): String =
    s.filter(c => c >= ' ' && c <= '~' && c != '"' && c != '\\')

  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val planDir = args.lift(2)
    val spark = Graft.session()
    spark.sparkContext.setLogLevel("ERROR")
    val names =
      if (args(1) == "all") SparkEntry.queries.keys.toSeq.sorted
      else SparkEntry.names(args(1))
    Bench.warmUp(spark, sfDir)
    planDir.foreach(d => Files.createDirectories(Paths.get(d)))
    val queries = SparkEntry.queries
    val probe = new Probe(spark)
    val reports = names.map { name =>
      val cold = probe.run(name, sfDir, queries(name))
      val coldLeak = probe.reclaimCaches()
      val warm = probe.run(name, sfDir, queries(name))
        .copy(leak = probe.reclaimCaches().orElse(coldLeak))
      println(s"""[probe] $name {"cold":${cold.json},"warm":${warm.json},""" +
        s""""leak":"${warm.leak.getOrElse("none")}"}""")
      planDir.foreach(d => warm.plans.zipWithIndex.foreach { case (qe, i) =>
        Files.writeString(Paths.get(d, s"${name}_$i.txt"),
          qe.explainString(FormattedMode))
      })
      warm.copy(plans = Nil, failure = warm.failure.orElse(cold.failure))
    }
    probe.close()
    val leaks = reports.count(_.leak.nonEmpty)
    println(s"[probe] done: ${reports.size} queries, " +
      s"${reports.count(_.failure.nonEmpty)} failed, $leaks leaking queries")
    spark.stop()
    if (leaks > 0) sys.exit(1)
  }

  /** Every node of an executed plan, descending into AQE query stages
    * and subqueries (a plain tree walk stops at the stage leaves). */
  def nodes(p: SparkPlan): Seq[SparkPlan] = p +: (p match {
    case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
    case s: QueryStageExec => nodes(s.plan)
    case _ => (p.children ++ p.subqueries).flatMap(nodes)
  })

  /** The largest method, in bytecode bytes, of the whole-stage codegen
    * stages among `planNodes` (0 without one). Each stage's source is
    * generated again and looked up in `CodeGenerator`'s compile cache,
    * which holds the stats of the class the run compiled. */
  private def maxMethodBytes(planNodes: Seq[SparkPlan]): Int =
    planNodes.collect { case w: WholeStageCodegenExec =>
      scala.util.Try(CodeGenerator.compile(w.doCodeGen()._2)._2.maxMethodCodeSize)
        .getOrElse(0)
    }.maxOption.getOrElse(0)
}

/** The one measurement collector, for one session: `Probe.main`,
  * `Bench` and `ScaleBench` all time queries through `run`. Listeners
  * do the measuring, after the model of Structured Streaming's
  * per-trigger progress metrics, so query bodies carry no hooks: a
  * `QueryExecutionListener` sees every executed plan, the intermediate
  * actions of digest queries included. `close` detaches the listeners.
  * Queries must run one at a time. */
final class Probe(spark: SparkSession) extends AutoCloseable {
  import Probe._

  private val plans = mutable.ArrayBuffer.empty[QueryExecution]
  private val taskMs = mutable.Map.empty[Int, mutable.ArrayBuffer[Long]]
  private val stageNames = mutable.Map.empty[Int, String]
  /** Stage id → the query whose job ran it (see `run`). */
  private val stageQuery = mutable.Map.empty[Int, String]
  private var jobs = 0
  private var cpuNs = 0L
  private var shuffleRead = 0L
  private var shuffleWrite = 0L
  private var spill = 0L
  private var batches = 0
  private var commitMs = 0L
  private var stateRows = 0L

  private val planListener = new QueryExecutionListener {
    override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
      Probe.this.synchronized { plans += qe; () }
    override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
  }
  private val jobListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit =
      Probe.this.synchronized {
        jobs += 1
        Option(e.properties).flatMap(p => Option(p.getProperty(QueryKey)))
          .foreach(q => e.stageIds.foreach(stageQuery(_) = q))
      }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      Probe.this.synchronized {
        val m = e.taskMetrics
        if (m != null) {
          cpuNs += m.executorCpuTime
          shuffleRead += m.shuffleReadMetrics.totalBytesRead
          shuffleWrite += m.shuffleWriteMetrics.bytesWritten
          spill += m.diskBytesSpilled
        }
        if (e.taskInfo != null)
          taskMs.getOrElseUpdate(e.stageId, mutable.ArrayBuffer.empty) +=
            e.taskInfo.duration
      }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      Probe.this.synchronized {
        val id = e.stageInfo.stageId
        stageNames(id) = stageQuery.getOrElse(id,
          e.stageInfo.name.takeWhile(_ != '\n').take(60))
      }
  }
  private val streamListener = new StreamingQueryListener {
    import StreamingQueryListener._
    override def onQueryStarted(e: QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: QueryProgressEvent): Unit =
      Probe.this.synchronized {
        val ops = e.progress.stateOperators
        batches += 1
        commitMs += ops.map(_.commitTimeMs).sum
        stateRows = stateRows.max(ops.map(_.numRowsTotal).sum)
      }
  }
  spark.listenerManager.register(planListener)
  spark.sparkContext.addSparkListener(jobListener)
  spark.streams.addListener(streamListener)

  /** Listener events arrive asynchronously: wait for the bus to drain
    * before reading or resetting the counters. */
  private def drain(): Unit =
    org.apache.spark.GraftListenerDrain.drain(spark.sparkContext)

  private def reset(): Unit = {
    drain()
    synchronized {
      plans.clear(); taskMs.clear(); stageNames.clear(); stageQuery.clear()
      jobs = 0; cpuNs = 0L; shuffleRead = 0L; shuffleWrite = 0L; spill = 0L
      batches = 0; commitMs = 0L; stateRows = 0L
    }
  }

  /** Caches the last run left behind, released; a description if any. */
  def reclaimCaches(): Option[String] = {
    // the ONE sanctioned cross-query cache: the memoized near-dup
    // grouping (offline-artifact semantics, documented at its
    // definition; Bench invalidates it per trial for the query that
    // grades it). Release it so only unsanctioned leaks count.
    graft.queries.ExtQueries.invalidateNearDupGroups()
    // localCheckpoint RDDs are GC-owned (reclaimed when the frame is
    // unreferenced) and deliberately excluded. isLocallyCheckpointed is
    // private[rdd] in Scala but public in bytecode: call it reflectively.
    val isLocalCk = classOf[org.apache.spark.rdd.RDD[_]]
      .getMethod("isLocallyCheckpointed")
    val rdds = spark.sparkContext.getPersistentRDDs.values
      .filterNot(r => isLocalCk.invoke(r).asInstanceOf[Boolean]).toSeq
    val cm = spark.sharedState.cacheManager
    if (rdds.isEmpty && cm.isEmpty) None
    else {
      val what = s"${rdds.size}_persisted_rdds,cache_manager_empty=${cm.isEmpty}"
      rdds.foreach(r => r.unpersist(blocking = false))
      cm.clearCache()
      Some(what)
    }
  }

  /** One timed run of `fn` through the noop sink, with the listener bus
    * drained before and after so the counters hold exactly this run's
    * events. A failure is reported, not thrown. */
  def run(name: String, sfDir: String,
      fn: (SparkSession, String) => DataFrame): Report = {
    reset()
    def compiles = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    def compileMs = CodeGenerator.compileTime / 1000000L
    val (n0, ms0) = (compiles, compileMs)
    // name the stages after the query, or every stage reads
    // `$anonfun$...` — telemetry that cannot name its own offender.
    // Every job the run submits carries this local property: AQE
    // futures capture it (withThreadLocalCaptured) and a stream's
    // micro-batch thread inherits it from the thread that starts the
    // stream. The RDD call site cannot serve: StreamExecution sets its
    // own on the micro-batch thread (`start at <caller>:<line>`).
    spark.sparkContext.setLocalProperty(QueryKey, name)
    val t0 = System.nanoTime()
    val failure =
      try { fn(spark, sfDir).write.mode("overwrite").format("noop").save(); None }
      catch { case e: Throwable => Some(String.valueOf(e.getMessage)) }
      finally spark.sparkContext.setLocalProperty(QueryKey, null)
    val wallS = (System.nanoTime() - t0) / 1e9
    val (n1, ms1) = (compiles, compileMs)
    drain()
    synchronized {
      val executed = plans.toSeq
      val all = executed.flatMap(qe => nodes(qe.executedPlan))
      val singlePartitionMax = all.collect {
        case e: ShuffleExchangeExec if e.outputPartitioning == SinglePartition =>
          e.metrics.get("shuffleRecordsWritten").fold(0L)(_.value)
      }.maxOption.getOrElse(0L)
      Report(name, wallS,
        executed.flatMap(_.tracker.phases)
          .groupMapReduce(_._1)(p => p._2.endTimeMs - p._2.startTimeMs)(_ + _),
        n1 - n0, ms1 - ms0, jobs,
        taskMs.toSeq.sortBy(_._1).map { case (id, ds) =>
          val s = ds.sorted
          Stage(id, stageNames.getOrElse(id, "?"), s.size, s.sum, s.last,
            s(s.size / 2))
        },
        cpuNs / 1e9, shuffleRead, shuffleWrite, spill, singlePartitionMax,
        all.count(_.isInstanceOf[CartesianProductExec]),
        all.count(_.isInstanceOf[BroadcastNestedLoopJoinExec]),
        batches, commitMs, stateRows, maxMethodBytes(all), executed, failure)
    }
  }

  def close(): Unit = {
    drain()
    spark.listenerManager.unregister(planListener)
    spark.sparkContext.removeSparkListener(jobListener)
    spark.streams.removeListener(streamListener)
  }
}
