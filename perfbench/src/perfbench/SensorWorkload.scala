package perfbench

import org.apache.spark.sql.SparkSession

import Main.{Opts, Result}
import Workloads._

/** Generate → (clean →) synchronize → export at camera size `n`, pass
  * after pass for the run's seconds. `checkN` is the small size at
  * which the synchronize output is compared row for row with an
  * independent composition. */
final class SensorWorkload(clean: Boolean, n: Long, checkN: Long) extends Workload {

  private val MinWarmPasses = 2

  private def warm(spark: SparkSession, scratch: Env.Scratch): Unit =
    spark.range(0, 1000000, 1, 4).selectExpr("sum(id)").collect()

  def run(o: Opts): Result = if (o.trace) traced(o) else untraced(o)

  private def untraced(o: Opts): Result = {
    val (spark, scratch, setupS) = Main.setupRepeated(o, Setups)(warm)
    withSession(spark) {
      val times = scala.collection.mutable.ArrayBuffer.empty[Double]
      var failed = 0L
      var last: Option[(java.nio.file.Path, Long)] = None
      var i = 0
      var end = Long.MaxValue
      // the cold pass, then warm passes for the run's seconds (two at least)
      while (times.size < 1 + MinWarmPasses || System.nanoTime() < end) {
        val out = scratch.out.resolve(s"pass-$i")
        i += 1
        try {
          Env.settle()
          val (ticks, t) = Env.timed(Sensor.pass(spark, n, o.seed, clean, out))
          times += t
          Env.log(f"pass $i: $t%.2fs")
          last.foreach { case (p, _) => Env.deleteTree(p) }
          last = Some((out, ticks))
        } catch { case e: Exception =>
          failed += 1
          System.err.println(s"[perfbench] pass failed: $e")
          if (failed > 2) throw e
        }
        if (end == Long.MaxValue) end = deadline(o.seconds)
      }
      val checks = new Checks
      val digest = last.map { case (out, ticks) => verify(spark, checks, o.seed, out, ticks) }
      Env.log("export checked")
      checks.check(last.isDefined, "no pass succeeded")
      val warmTimes = times.drop(1).toSeq
      val p50 = Stats.median(warmTimes)
      val values = Map(
        "setup_s" -> Stats.median(setupS),
        "ops_per_s" -> warmTimes.size / warmTimes.sum,
        "op_gmean_s" -> Stats.typical(warmTimes.map("pass" -> _)),
        "cold_pass_s" -> times.head)
      val attempted = i.toLong
      Result(checks.passed && failed == 0, attempted, failed,
        Metrics.complete(Metrics.endToEnd, values),
        Map("rows_per_s" -> Sensor.inputRows(n) / p50,
          "failed_ratio" -> failed.toDouble / attempted,
          "input_rows" -> Sensor.inputRows(n), "camera_rows" -> n,
          "passes" -> times.size, "pass_s" -> times.toSeq, "setup_runs_s" -> setupS,
          "ticks" -> last.map(_._2).getOrElse(0L), "export_digest" -> digest.getOrElse("")),
        checks.failures.toSeq)
    }
  }

  private def prepared(spark: SparkSession, size: Long, seed: Long): Sensor.Inputs = {
    val raw = Sensor.inputs(spark, size, seed)
    if (clean) Sensor.cleaned(raw) else raw
  }

  /** Export checks at the measured size, against the shape expected
    * from the generated inputs (after the reference's row filters when
    * the workload cleans). */
  private def verify(spark: SparkSession, checks: Checks, seed: Long,
                     out: java.nio.file.Path, ticks: Long): String = {
    val raw = Sensor.inputs(spark, n, seed)
    val in = if (clean) checks.referenceRows(raw) else raw
    checks.sensorExport(spark, out, ticks, checks.expected(spark, in))
  }

  /** Row-for-row comparison with the independent composition at the
    * check size. */
  private def compare(spark: SparkSession, checks: Checks, seed: Long): Unit = {
    val small = prepared(spark, checkN, seed)
    val (synced, _) = Sensor.synchronize(spark, small)
    val (frame, _) = Sensor.composed(spark, small)
    checks.sameRows(synced, graft.clean.Clean.dropMissing(frame), s"check size $checkN")
  }

  private def traced(o: Opts): Result = {
    Tracer.resetPeakHeap()
    val jvm0 = Tracer.jvmSnapshot()
    val (spark, scratch, setupS) = Main.setupRepeated(o, 1)(warm)
    withSession(spark) {
      def plain(name: String) =
        Env.timed(Sensor.pass(spark, n, o.seed, clean, scratch.out.resolve(name)))._2
      plain("cold")
      val before = plain("before")
      def tracedAt(size: Long, name: String) = {
        val tr = new Tracer(spark, s"${runId(o)}-$name")
        tr.install()
        try (tr, Sensor.tracedPass(spark, tr, size, o.seed, clean, scratch.out.resolve(name)))
        finally tr.uninstall()
      }
      val (tr, t) = tracedAt(n, "traced")
      // the JIT is still warming: compare with the passes on either side
      val untracedS = (before + plain("after")) / 2
      val (trQuarter, _) = tracedAt(n / 4, "traced-quarter")
      val checks = new Checks
      val out = scratch.out.resolve("traced")
      val digest = verify(spark, checks, o.seed, out, t.ticks)
      compare(spark, checks, o.seed)
      val (files, bytes) = Env.treeBytes(out)
      val layers = Seq("sources", "clean", "sync", "io").filter(l => clean || l != "clean")
      val scaling = layers.map { l =>
        s"$l.scaling_exp" -> math.log(tr.seconds(l) / trQuarter.seconds(l)) / math.log(4)
      }
      val sync = tr.totals("sync")
      val values = Map(
        "sources.gen_s" -> tr.seconds("sources"),
        "sources.gen_rows" -> t.genRows.toDouble,
        "sync.s" -> tr.seconds("sync"),
        "sync.ticks" -> t.ticks.toDouble,
        "sync.overlap_s" -> t.overlapS,
        "sync.shuffle_write_bytes" -> sync.shuffleWrite.toDouble,
        "sync.task_skew" -> sync.maxSkew,
        "sync.single_task_records" -> sync.singleTaskRecords.toDouble,
        "io.export_s" -> tr.seconds("io"),
        "io.bytes_written" -> bytes.toDouble,
        "io.files" -> files.toDouble,
        "tracing.overhead_s" -> (tr.seconds("pass") - untracedS)) ++
        (if (clean) Map(
          "clean.s" -> tr.seconds("clean"),
          "clean.report_jobs" -> tr.own("clean").jobs.toDouble,
          "clean.rows_dropped" -> t.cleanDropped.toDouble) else Map.empty) ++
        scaling ++ catalyst(tr.totals("pass")) ++ exchange(tr.totals("pass")) ++
        scheduler(tr.totals("pass")) ++ jvmDelta(jvm0)
      val perLayer = Metrics.complete(Metrics.perLayer, values)
      Result(checks.passed, 5L, 0L, perLayer,
        Map("setup_s" -> setupS.head, "untraced_pass_s" -> untracedS,
          "traced_pass_s" -> tr.seconds("pass"), "export_digest" -> digest),
        checks.failures.toSeq,
        artifact(o, perLayer, tr, Map("camera_rows" -> n, "quarter_run" -> trQuarter.runId)))
    }
  }
}
