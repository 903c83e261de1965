package perfbench

/** Pure helpers: percentiles, the query sample and a small JSON writer.
  * Kept free of Spark so the self-tests exercise them directly. */
object Stats {

  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of an empty sample")
    val s = xs.sorted
    val m = s.size / 2
    if (s.size % 2 == 1) s(m) else (s(m - 1) + s(m)) / 2
  }

  def geomean(xs: Seq[Double]): Double = {
    require(xs.nonEmpty && xs.forall(_ > 0), "geometric mean needs positive values")
    math.exp(xs.map(math.log).sum / xs.size)
  }

  /** Typical operation latency: the geometric mean, over the workload's
    * distinct operations, of each one's median warm latency. */
  def typical(samples: Seq[(String, Double)]): Double =
    geomean(samples.groupBy(_._1).values.map(s => median(s.map(_._2))).toSeq)

  /** Nearest-rank value at whole percentile `pct` of a non-empty sample. */
  def nearestRank(xs: Seq[Double], pct: Int): Double = {
    val s = xs.sorted
    s(math.max(1, math.ceil(pct / 100.0 * s.size).toInt) - 1)
  }

  /** A tail percentile is reported only when at least `minBeyond`
    * samples lie above it. Returns the highest whole percentile
    * <= `wanted` that satisfies this, its nearest-rank value and the
    * sample count; None when not even the median qualifies. */
  final case class Tail(pct: Int, value: Double, samples: Int)

  def tailPercentile(xs: Seq[Double], wanted: Int, minBeyond: Int = 10): Option[Tail] = {
    val n = xs.size
    def beyond(p: Int) = n - math.max(1, math.ceil(p / 100.0 * n).toInt)
    (wanted to 50 by -1).find(p => beyond(p) >= minBeyond)
      .map(p => Tail(p, nearestRank(xs, p), n))
  }

  /** Every k-th registered query in name order: the set depends on the
    * library only, never on the seed. */
  def sample(names: Iterable[String], k: Int): Seq[String] = {
    require(k >= 1, "sampling stride must be positive")
    names.toSeq.sorted.zipWithIndex.collect { case (n, i) if i % k == 0 => n }
  }

  /** The seed changes the order of the sample and nothing else. */
  def order(sampled: Seq[String], seed: Long): Seq[String] =
    new scala.util.Random(seed).shuffle(sampled)

  /** Query family used for the per-layer split of the query mix. */
  val families: Seq[String] =
    Seq("q", "text", "emb", "pipe", "dedup", "corpus", "mm", "io", "sim", "y", "stream")

  def family(name: String): String =
    if (name.startsWith("q_stream_")) "stream"
    else {
      val head = name.takeWhile(_ != '_')
      if (families.contains(head)) head
      else if (head.startsWith("y")) "y"
      else "q"
    }

  /** Minimal JSON rendering for the result file (numbers, strings,
    * booleans, nested maps and sequences). */
  def json(v: Any): String = v match {
    case null                  => "null"
    case s: String             => quote(s)
    case b: Boolean            => b.toString
    case d: Double             => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float              => json(f.toDouble)
    case n: Int                => n.toString
    case n: Long               => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => quote(k.toString) + ":" + json(x) }.mkString("{", ",", "}")
    case xs: Iterable[_]       => xs.map(json).mkString("[", ",", "]")
    case o: Option[_]          => o.map(json).getOrElse("null")
    case other                 => quote(other.toString)
  }

  private def quote(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"'  => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case '\n' => b ++= "\\n"
      case '\r' => b ++= "\\r"
      case '\t' => b ++= "\\t"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c    => b += c
    }
    (b += '"').toString
  }
}
