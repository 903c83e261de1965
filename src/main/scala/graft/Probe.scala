package graft

import java.nio.file.{Files, Paths}

import scala.collection.mutable

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart,
  SparkListenerStageCompleted, SparkListenerTaskEnd}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.catalyst.plans.physical.SinglePartition
import org.apache.spark.sql.execution.{FormattedMode, QueryExecution, SparkPlan}
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
  * One line per query: cold and warm wall; Catalyst phase ms and Janino
  * compiles for the cold run; jobs, the top stages (summed, max and
  * median task ms) and executor CPU for the warm run; the most records
  * through any `SinglePartition` exchange (an unpartitioned
  * `Window.orderBy` compiles to one, so a count that grows with the
  * input is a scale bug); `CartesianProduct` and
  * `BroadcastNestedLoopJoin` nodes; streaming batches, state-commit ms
  * and state rows; the caches the query left behind.
  *
  * Listeners do the measuring, after the model of Structured
  * Streaming's per-trigger progress metrics, so query bodies carry no
  * hooks: a `QueryExecutionListener` sees every executed plan, the
  * intermediate actions of digest queries included, and with `planDir`
  * set each warm-run plan is written to `<name>_<i>.txt`.
  *
  * A query that leaves a persisted RDD or a CacheManager entry behind
  * would flatter the next bench trial of the same query (it would read
  * the cached relation instead of recomputing) and leak memory into the
  * long-lived session; the probe reports it, releases the cache and
  * exits 1. */
object Probe {

  final case class Stage(id: Int, name: String, tasks: Int, sumMs: Long,
      maxMs: Long, medMs: Long)

  final case class Report(name: String, coldS: Double, warmS: Double,
      phasesMs: Map[String, Long], compiles: Long, compileMs: Long,
      jobs: Int, stages: Seq[Stage], cpuS: Double,
      singlePartitionMax: Long, cartesian: Int, bnlj: Int,
      batches: Int, commitMs: Long, stateRows: Long,
      plans: Seq[QueryExecution], leak: Option[String],
      failure: Option[String]) {
    def line: String = {
      val phases = phasesMs.toSeq.sorted
        .map { case (p, ms) => s"$p=${ms}ms" }.mkString(" ")
      val top = stages.sortBy(-_.sumMs).take(3).map(s =>
        s"[${s.id} ${s.name} n=${s.tasks} sum=${s.sumMs} max=${s.maxMs} " +
          s"med=${s.medMs}]").mkString(" ")
      f"[probe] $name cold=$coldS%.3fs warm=$warmS%.3fs $phases " +
        s"compiles=$compiles compile_ms=$compileMs jobs=$jobs " +
        f"cpu=$cpuS%.2fs single_partition_max=$singlePartitionMax " +
        s"cartesian=$cartesian bnlj=$bnlj batches=$batches " +
        s"commit_ms=$commitMs state_rows=$stateRows plans=${plans.size} " +
        s"leak=${leak.getOrElse("none")}" +
        failure.fold("")(f => s" FAILED ${f.take(120)}") +
        (if (top.isEmpty) "" else s" stages $top")
    }
  }

  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val planDir = args.lift(2)
    val spark = Graft.session()
    spark.sparkContext.setLogLevel("ERROR")
    val names =
      if (args(1) == "all") SparkEntry.queries.keys.toSeq.sorted
      else args(1).split(",").map(_.trim).filter(_.nonEmpty).toSeq
    Bench.warmUp(spark, sfDir)
    planDir.foreach(d => Files.createDirectories(Paths.get(d)))
    val probe = new Probe(spark)
    val reports = names.map { name =>
      val r = probe.run(name, sfDir, SparkEntry.queries(name))
      println(r.line)
      planDir.foreach(d => r.plans.zipWithIndex.foreach { case (qe, i) =>
        Files.writeString(Paths.get(d, s"${name}_$i.txt"),
          qe.explainString(FormattedMode))
      })
      r.copy(plans = Nil)
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
}

/** The listeners behind `Probe.main`, for one session; `close` detaches
  * them. Queries must run one at a time. */
final class Probe(spark: SparkSession) extends AutoCloseable {
  import Probe._

  private val plans = mutable.ArrayBuffer.empty[QueryExecution]
  private val taskMs = mutable.Map.empty[Int, mutable.ArrayBuffer[Long]]
  private val stageNames = mutable.Map.empty[Int, String]
  private var jobs = 0
  private var cpuNs = 0L
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
      Probe.this.synchronized { jobs += 1 }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      Probe.this.synchronized {
        if (e.taskMetrics != null) cpuNs += e.taskMetrics.executorCpuTime
        if (e.taskInfo != null)
          taskMs.getOrElseUpdate(e.stageId, mutable.ArrayBuffer.empty) +=
            e.taskInfo.duration
      }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      Probe.this.synchronized {
        stageNames(e.stageInfo.stageId) =
          e.stageInfo.name.takeWhile(_ != '\n').take(60)
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
      plans.clear(); taskMs.clear(); stageNames.clear()
      jobs = 0; cpuNs = 0L; batches = 0; commitMs = 0L; stateRows = 0L
    }
  }

  /** One timed noop-sink run of `fn`; the failure message if it threw. */
  private def once(name: String, sfDir: String,
      fn: (SparkSession, String) => DataFrame): (Double, Option[String]) = {
    // this query grades its (deliberately memoized) grouping
    // computation — every run must recompute, not read the cache
    if (name == "dedup_neardup_groups")
      graft.queries.ExtQueries.invalidateNearDupGroups()
    val t0 = System.nanoTime()
    val failure =
      try { fn(spark, sfDir).write.mode("overwrite").format("noop").save(); None }
      catch { case e: Throwable => Some(String.valueOf(e.getMessage)) }
    val wallS = (System.nanoTime() - t0) / 1e9
    drain()
    (wallS, failure)
  }

  /** Caches the last run left behind, released; a description if any. */
  private def reclaimCaches(): Option[String] = {
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

  def run(name: String, sfDir: String,
      fn: (SparkSession, String) => DataFrame): Report = {
    reset()
    def compiles = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    def compileMs = CodeGenerator.compileTime / 1000000L
    val (n0, ms0) = (compiles, compileMs)
    val (coldS, coldFailure) = once(name, sfDir, fn)
    val (n1, ms1) = (compiles, compileMs)
    val phasesMs = synchronized(plans.toSeq).flatMap(_.tracker.phases)
      .groupMapReduce(_._1)(p => p._2.endTimeMs - p._2.startTimeMs)(_ + _)
    val coldLeak = reclaimCaches()
    reset()
    val (warmS, warmFailure) = once(name, sfDir, fn)
    val leak = reclaimCaches().orElse(coldLeak)
    synchronized {
      val executed = plans.toSeq
      val all = executed.flatMap(qe => nodes(qe.executedPlan))
      val singlePartitionMax = all.collect {
        case e: ShuffleExchangeExec if e.outputPartitioning == SinglePartition =>
          e.metrics.get("shuffleRecordsWritten").fold(0L)(_.value)
      }.maxOption.getOrElse(0L)
      Report(name, coldS, warmS, phasesMs, n1 - n0, ms1 - ms0, jobs,
        taskMs.toSeq.map { case (id, ds) =>
          val s = ds.sorted
          Stage(id, stageNames.getOrElse(id, "?"), s.size, s.sum, s.last,
            s(s.size / 2))
        },
        cpuNs / 1e9, singlePartitionMax,
        all.count(_.isInstanceOf[CartesianProductExec]),
        all.count(_.isInstanceOf[BroadcastNestedLoopJoinExec]),
        batches, commitMs, stateRows, executed, leak,
        warmFailure.orElse(coldFailure))
    }
  }

  def close(): Unit = {
    drain()
    spark.listenerManager.unregister(planListener)
    spark.sparkContext.removeSparkListener(jobListener)
    spark.streams.removeListener(streamListener)
  }
}
