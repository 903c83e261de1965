package perfbench

import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.SparkSession

/** Benchmark entry point. One JVM runs one workload for one seed and
  * writes its result as JSON to `--out`; `perfbench/run.py` builds the
  * classes, prepares the scratch root and prints the result line.
  *
  * {{{
  * perfbench.Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *                --root <scratch dir> --data <query tables> --out <file>
  * }}}
  */
object Main {

  final case class Opts(workload: String, seed: Long, seconds: Int, trace: Boolean,
                        root: Path, data: Path, out: Path)

  def parse(args: Array[String]): Opts = {
    val m = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Opts(need("workload"), need("seed").toLong, need("seconds").toInt, need("trace") == "1",
      Paths.get(need("root")), Paths.get(need("data")), Paths.get(need("out")))
  }

  /** Result of one run: the contract fields, the metrics with their
    * units, the workload's own named metrics, and (traced runs) the
    * artifact and the query oracle checks left to the caller. */
  final case class Result(correct: Boolean, attempted: Long, failed: Long,
                          metrics: Map[String, (Double, String)],
                          detail: Map[String, Any],
                          failures: Seq[String],
                          artifact: Map[String, Any] = Map.empty,
                          oracle: Seq[Map[String, Any]] = Nil)

  def main(args: Array[String]): Unit = {
    val o = parse(args)
    val w = Workloads.byName.getOrElse(o.workload,
      throw new IllegalArgumentException(s"unknown workload ${o.workload}; " +
        s"known: ${Workloads.byName.keys.toSeq.sorted.mkString(", ")}"))
    val r = w.run(o)
    val doc = Map(
      "correct" -> r.correct, "attempted" -> r.attempted, "failed" -> r.failed,
      "metrics" -> r.metrics.map { case (k, (v, u)) => k -> Map("value" -> v, "unit" -> u) },
      "detail" -> r.detail, "failures" -> r.failures,
      "artifact" -> r.artifact, "oracle" -> r.oracle)
    Files.writeString(o.out, Stats.json(doc))
    // Spark leaves non-daemon threads behind a stopped context
    System.exit(0)
  }

  /** Set up `times` times, each in a fresh scratch directory, and keep
    * the last session for the measurement. Returns it, its scratch
    * space and the set-up times in seconds. */
  def setupRepeated(o: Opts, times: Int)(build: (SparkSession, Env.Scratch) => Unit)
      : (SparkSession, Env.Scratch, Seq[Double]) = {
    var kept: Option[(SparkSession, Env.Scratch)] = None
    val secs = (1 to times).map { i =>
      kept.foreach { case (s, _) => Env.stop(s) }
      val scratch = new Env.Scratch(o.root.resolve(s"setup-$i"))
      Env.settle()
      val (spark, t) = Env.timed {
        val spark = Env.session(scratch)
        build(spark, scratch)
        spark
      }
      kept = Some((spark, scratch))
      Env.log(f"setup $i: $t%.2fs")
      t
    }
    (kept.get._1, kept.get._2, secs)
  }
}
