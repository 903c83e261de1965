package perfbench

import scala.collection.mutable

import org.apache.spark.PerfbenchBus
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Spans around calls into the engine's layers, plus the Spark
  * listeners that attribute jobs, stages, tasks, planning phases and
  * streaming progress to the enclosing span. Everything is measured
  * from outside the engine: each span tags its jobs through a local
  * property, and the listeners read that tag back.
  *
  * Spans are kept in memory and rendered once the run ends. The bus is
  * drained when a span closes, so every event of the span is counted
  * in it and none leaks into the next one. */
final class Tracer(spark: SparkSession, val runId: String) {
  import Tracer._

  private val sc = spark.sparkContext

  final class Span(val id: Int, val name: String, val parent: Int, val startNs: Long) {
    @volatile var endNs: Long = 0L
    def seconds: Double = (endNs - startNs) / 1e9
  }

  private val spans = mutable.ArrayBuffer.empty[Span]
  private val accs = mutable.Map.empty[Int, Acc]
  @volatile private var current = -1
  private val stageSpan = mutable.Map.empty[Int, Int]
  private val stageTasks = mutable.Map.empty[Int, mutable.ArrayBuffer[(Long, Long)]]

  private def acc(id: Int): Acc = accs.getOrElseUpdate(id, new Acc)
  private def spanOf(props: java.util.Properties): Int =
    Option(props).flatMap(p => Option(p.getProperty(SpanKey))).map(_.toInt).getOrElse(current)

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = Tracer.this.synchronized {
      acc(spanOf(e.properties)).jobs += 1
    }
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = Tracer.this.synchronized {
      stageSpan(e.stageInfo.stageId) = spanOf(e.properties)
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Tracer.this.synchronized {
      val a = acc(stageSpan.getOrElse(e.stageId, current))
      a.tasks += 1
      a.taskMs += e.taskInfo.duration
      val m = e.taskMetrics
      if (m != null) {
        a.cpuNs += m.executorCpuTime
        a.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        a.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        a.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        a.outputBytes += m.outputMetrics.bytesWritten
        val records = m.shuffleReadMetrics.recordsRead + m.inputMetrics.recordsRead
        stageTasks.getOrElseUpdate(e.stageId, mutable.ArrayBuffer.empty) +=
          ((e.taskInfo.duration, records))
      }
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = Tracer.this.synchronized {
      val id = e.stageInfo.stageId
      val a = acc(stageSpan.getOrElse(id, current))
      a.stages += 1
      val tasks = stageTasks.remove(id).getOrElse(mutable.ArrayBuffer.empty)
      if (e.stageInfo.numTasks == 1) a.singleTaskRecords += tasks.map(_._2).sum
      if (tasks.size >= 2) {
        val med = Stats.median(tasks.map(_._1.toDouble).toSeq)
        a.maxSkew = math.max(a.maxSkew, tasks.map(_._1).max / math.max(med, 1.0))
      }
    }
  }

  private val queryListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      record(qe)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
      record(qe)
    private def record(qe: QueryExecution): Unit = Tracer.this.synchronized {
      val a = acc(current)
      val phases = qe.tracker.phases
      def ms(phase: String) = phases.get(phase).map(_.durationMs).getOrElse(0L)
      a.analysisMs += ms("analysis")
      a.optimizationMs += ms("optimization")
      a.planningMs += ms("planning")
    }
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      Tracer.this.synchronized {
        val p = e.progress
        val a = acc(current)
        a.batches += 1
        def ms(k: String) = Option(p.durationMs.get(k)).map(_.longValue).getOrElse(0L)
        a.commitMs += ms("walCommit") + ms("commitOffsets")
        // state size is a level, not a flow: keep the latest per query
        a.stateRows(p.runId.toString) = p.stateOperators.map(_.numRowsTotal).sum
      }
  }

  def install(): Unit = {
    sc.addSparkListener(sparkListener)
    spark.listenerManager.register(queryListener)
    spark.streams.addListener(streamListener)
  }

  def uninstall(): Unit = {
    PerfbenchBus.drain(sc)
    sc.removeSparkListener(sparkListener)
    spark.listenerManager.unregister(queryListener)
    spark.streams.removeListener(streamListener)
  }

  /** Run `body` inside a new span nested in the current one. */
  def span[T](name: String)(body: => T): T = {
    val parent = current
    val s = synchronized {
      val s = new Span(spans.size, name, parent, System.nanoTime())
      spans += s
      s
    }
    PerfbenchBus.drain(sc)
    current = s.id
    sc.setLocalProperty(SpanKey, s.id.toString)
    try body
    finally {
      s.endNs = System.nanoTime()
      PerfbenchBus.drain(sc)
      current = parent
      sc.setLocalProperty(SpanKey, if (parent < 0) null else parent.toString)
    }
  }

  private def subtree(id: Int): Seq[Int] =
    id +: spans.toSeq.filter(_.parent == id).flatMap(c => subtree(c.id))

  /** Spans named `name` (outermost occurrences only). */
  def named(name: String): Seq[Span] = synchronized {
    spans.toSeq.filter(s => s.name == name &&
      !ancestors(s).exists(_.name == name))
  }

  private def ancestors(s: Span): Seq[Span] =
    if (s.parent < 0) Nil else spans(s.parent) +: ancestors(spans(s.parent))

  /** Wall seconds of the spans named `name`. */
  def seconds(name: String): Double = named(name).map(_.seconds).sum

  /** Counters summed over the spans named `name` and their children. */
  def totals(name: String): Acc = synchronized {
    named(name).flatMap(s => subtree(s.id)).distinct
      .flatMap(accs.get).foldLeft(new Acc)(_ merge _)
  }

  /** Counters of the spans named `name` themselves, children excluded. */
  def own(name: String): Acc = synchronized {
    named(name).flatMap(s => accs.get(s.id)).foldLeft(new Acc)(_ merge _)
  }

  def render: Seq[Map[String, Any]] = synchronized {
    spans.toSeq.map { s =>
      val a = accs.getOrElse(s.id, new Acc)
      Map("id" -> s.id, "name" -> s.name, "parent" -> s.parent, "run" -> runId,
        "start_ns" -> s.startNs, "end_ns" -> s.endNs, "jobs" -> a.jobs,
        "stages" -> a.stages, "tasks" -> a.tasks)
    }
  }
}

object Tracer {
  val SpanKey = "perfbench.span"

  final class Acc {
    var jobs, stages, tasks, taskMs, cpuNs = 0L
    var shuffleRead, shuffleWrite, spill, outputBytes, singleTaskRecords = 0L
    var analysisMs, optimizationMs, planningMs = 0L
    var batches, commitMs = 0L
    var maxSkew = 0.0
    val stateRows = mutable.Map.empty[String, Long]

    def merge(o: Acc): Acc = {
      val r = new Acc
      r.jobs = jobs + o.jobs; r.stages = stages + o.stages; r.tasks = tasks + o.tasks
      r.taskMs = taskMs + o.taskMs; r.cpuNs = cpuNs + o.cpuNs
      r.shuffleRead = shuffleRead + o.shuffleRead; r.shuffleWrite = shuffleWrite + o.shuffleWrite
      r.spill = spill + o.spill; r.outputBytes = outputBytes + o.outputBytes
      r.singleTaskRecords = singleTaskRecords + o.singleTaskRecords
      r.analysisMs = analysisMs + o.analysisMs
      r.optimizationMs = optimizationMs + o.optimizationMs
      r.planningMs = planningMs + o.planningMs
      r.batches = batches + o.batches; r.commitMs = commitMs + o.commitMs
      r.maxSkew = math.max(maxSkew, o.maxSkew)
      r.stateRows ++= stateRows; r.stateRows ++= o.stateRows
      r
    }
  }

  /** Process-wide counters read before and after a phase: Janino
    * compiles, GC time and peak heap. */
  final case class JvmSnapshot(compileNs: Long, compiles: Long, gcMs: Long)

  def jvmSnapshot(): JvmSnapshot = {
    import scala.jdk.CollectionConverters._
    JvmSnapshot(
      org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator.compileTime,
      org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount,
      java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
        .map(_.getCollectionTime).filter(_ >= 0).sum)
  }

  def resetPeakHeap(): Unit = {
    import scala.jdk.CollectionConverters._
    heapPools.foreach(_.resetPeakUsage())
  }

  def peakHeapMb: Double = heapPools.map(_.getPeakUsage.getUsed).sum / 1048576.0

  private def heapPools = {
    import scala.jdk.CollectionConverters._
    java.lang.management.ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP).toSeq
  }
}
