package perfbench

import java.nio.file.Paths

import graft.SparkEntry

/** Self-tests of the benchmark's own rules: the tail-percentile rule,
  * the deterministic query sample and the seed plumbing of the sensor
  * inputs. Exits non-zero on the first failure.
  *
  * {{{ perfbench.SelfTest --root <scratch dir> }}}
  */
object SelfTest {

  private var failures = 0

  private def expect(ok: Boolean, what: String): Unit = {
    println(s"[selftest] ${if (ok) "ok  " else "FAIL"} $what")
    if (!ok) failures += 1
  }

  def main(args: Array[String]): Unit = {
    val root = Paths.get(args.sliding(2).collectFirst { case Array("--root", v) => v }
      .getOrElse(throw new IllegalArgumentException("missing --root")))
    percentiles()
    sampling()
    seeds(root)
    println(s"[selftest] ${if (failures == 0) "all passed" else s"$failures failed"}")
    System.exit(if (failures == 0) 0 else 1)
  }

  def percentiles(): Unit = {
    def xs(n: Int) = (1 to n).map(_.toDouble)
    expect(Stats.tailPercentile(xs(100), 90) == Some(Stats.Tail(90, 90.0, 100)),
      "100 samples: p90 with 10 samples beyond it")
    expect(Stats.tailPercentile(xs(50), 90) == Some(Stats.Tail(80, 40.0, 50)),
      "50 samples: falls back to p80")
    expect(Stats.tailPercentile(xs(20), 90) == Some(Stats.Tail(50, 10.0, 20)),
      "20 samples: only the median qualifies")
    expect(Stats.tailPercentile(xs(15), 90).isEmpty, "15 samples: no percentile qualifies")
    expect(Stats.tailPercentile(xs(1000).reverse, 90).map(_.value) == Some(900.0),
      "input order does not matter")
    expect(Stats.median(Seq(3.0, 1.0, 2.0, 10.0)) == 2.5, "median of an even sample")
    expect(math.abs(Stats.typical(Seq("a" -> 1.0, "a" -> 3.0, "b" -> 8.0)) - 4.0) < 1e-9,
      "typical latency: geometric mean of per-operation medians")
  }

  def sampling(): Unit = {
    val names = SparkEntry.queries.keys.toSeq
    val at8 = Stats.sample(names, 8)
    expect(at8.size == (names.size + 7) / 8, s"k=8 takes every 8th of ${names.size} names")
    expect(at8 == at8.sorted && at8.head == names.min, "the sample starts at the first name")
    expect(Stats.sample(names.reverse, 8) == at8, "the sample ignores registration order")
    val mix = Workloads.byName("query_mix").asInstanceOf[QueryMix]
    val orders = (1L to 5L).map(mix.names)
    expect(orders.map(_.toSet).distinct.size == 1, "every seed samples the same names")
    expect(orders.map(_.size).distinct == Seq(orders.head.toSet.size), "no name repeats")
    expect(orders.distinct.size > 1, "seeds change the order")
    expect(mix.names(3L) == mix.names(3L), "a seed always gives the same order")
  }

  def seeds(root: java.nio.file.Path): Unit = {
    val scratch = new Env.Scratch(root.resolve("seeds"))
    val spark = Env.session(scratch)
    try Seq(true, false).foreach { clean =>
      def digest(seed: Long, tag: String) = {
        val out = scratch.out.resolve(s"$clean-$tag")
        Sensor.pass(spark, 6000L, seed, clean, out)
        Sensor.digest(spark.read.parquet(out.toString))
      }
      val a = digest(7L, "a")
      val b = digest(7L, "b")
      val c = digest(8L, "c")
      val path = if (clean) "clean" else "raw"
      expect(a == b, s"$path: the same seed gives the same export digest")
      expect(a != c, s"$path: another seed gives another export digest")
    } finally Env.stop(spark)
  }
}
