package graft.analytics

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** A1-A5 — analytics aggregates (`/root/reference/app.py` §2.5):
  * timestamp extremes, exact quantiles/median, pairwise-complete
  * Pearson correlation matrix, describe()-style summary.
  *
  * Oracle-parity notes (SURVEY §5): exact `percentile` (linear
  * interpolation = pandas type-7 = DuckDB `quantile_cont`), NOT
  * `approx_percentile`; `corr` ignores null pairs and returns NaN on
  * zero variance in both engines. Where sums of doubles would make the
  * result order-dependent across partitions, we aggregate exact
  * decimals and divide once at the end (`summaryExact`).
  */
object Stats {

  /** Φ⁻¹(p) as Acklam's rational approximation, emitted as ONE SQL
    * string fed verbatim to Spark `expr()` AND the DuckDB oracle (the
    * Lanczos-Γ precedent of the R13 queries): neither engine has a
    * probit/erfinv builtin, and sharing the literal expression makes
    * the transcendental bit-identical up to the two engines' ln/sqrt
    * (1-ulp, absorbed by the callers' quantization). Both spell the
    * natural log `ln`. Valid for p ∈ (0,1); |relative error| < 1.15e-9
    * (Acklam 2003, public). */
  def probitSql(p: String): String = {
    val a = Seq("-3.969683028665376e+01", "2.209460984245205e+02",
      "-2.759285104469687e+02", "1.383577518672690e+02",
      "-3.066479806614716e+01", "2.506628277459239e+00")
    val b = Seq("-5.447609879822406e+01", "1.615858368580409e+02",
      "-1.556989798598866e+02", "6.680131188771972e+01",
      "-1.328068155288572e+01")
    val c = Seq("-7.784894002430293e-03", "-3.223964580411365e-01",
      "-2.400758277161838e+00", "-2.549732539343734e+00",
      "4.374664141464968e+00", "2.938163982698783e+00")
    val dd = Seq("7.784695709041462e-03", "3.224671290700398e-01",
      "2.445134137142996e+00", "3.754408661907416e+00")
    def horner(cs: Seq[String], v: String) =
      cs.tail.foldLeft(s"(${cs.head})")((acc, ci) => s"($acc * $v + ($ci))")
    val qc = s"(($p) - 0.5)"
    val rc = s"($qc * $qc)"
    val central =
      s"(${horner(a, rc)} * $qc / (${horner(b, rc)} * $rc + 1.0))"
    val ql = s"sqrt(-2.0 * ln(($p)))"
    val low = s"(${horner(c, ql)} / (${horner(dd, ql)} * $ql + 1.0))"
    val qh = s"sqrt(-2.0 * ln(1.0 - ($p)))"
    val high = s"(-(${horner(c, qh)} / (${horner(dd, qh)} * $qh + 1.0)))"
    s"(CASE WHEN ($p) < 0.02425 THEN $low" +
      s" WHEN ($p) > 0.97575 THEN $high ELSE $central END)"
  }

  /** A1 — min/max of a timestamp column, one row. */
  def tsExtremes(df: DataFrame, tsCol: String): DataFrame =
    df.agg(min(col(tsCol)).as("ts_min"), max(col(tsCol)).as("ts_max"))

  /** A2/A3 — exact linear-interpolation quantiles of one column. */
  def quantiles(df: DataFrame, c: String, qs: Seq[Double]): DataFrame = {
    df.agg(graft.functions.ExactPercentile.percentiles(col(c), qs).as("__q"))
      .select(qs.zipWithIndex.map { case (q, i) =>
        col("__q").getItem(i).as(s"q${(q * 100).round}")
      }: _*)
  }

  /** A2 at 100 TB, EXACT: distributed-sort rank selection. The
    * buffered aggregate (`ExactPercentile`) holds O(rows) per group —
    * fine under the oracle contract, impossible at 100 TB; the sketch
    * twin trades exactness away. This is the third point of the
    * triangle: a range-partitioned sort (Spark's TeraSort machinery —
    * every partition holds a disjoint key range, no single reducer
    * sees everything), a per-partition `zipWithIndex` to global ranks
    * (one count job, no data movement), then ONLY the ~2·|qs| rows at
    * the interpolation ranks come back to the driver. Exactness is
    * oracle-proven: the registered query shares `a2_quantiles`'
    * DuckDB oracle verbatim. */
  def quantilesBySort(df: DataFrame, c: String, qs: Seq[Double]): DataFrame = {
    val spark = df.sparkSession
    val vals = df.select(col(c).cast("double")).na.drop()
      .rdd.map(_.getDouble(0))
    val sorted = vals.sortBy(identity).zipWithIndex()
      .map { case (v, i) => (i, v) }
    val n = sorted.count()
    require(n > 0, s"quantilesBySort: no non-null rows in $c")
    val wanted: Map[Long, Double] = qs.flatMap { p =>
      val pos = p * (n - 1)
      val lo = pos.toLong
      Seq(lo, math.min(lo + 1, n - 1))
    }.distinct.map(_ -> 0.0).toMap
    val picked = sorted.filter { case (i, _) => wanted.contains(i) }
      .collect().toMap
    val row = qs.map { p =>
      val pos = p * (n - 1)
      val lo = pos.toLong
      val frac = pos - lo
      val v =
        if (lo + 1 <= n - 1) picked(lo) * (1 - frac) + picked(lo + 1) * frac
        else picked(lo)
      v
    }
    import spark.implicits._
    Seq(row).toDF("__q")
      .select(qs.zipWithIndex.map { case (q, i) =>
        col("__q").getItem(i).as(s"q${(q * 100).round}")
      }: _*)
  }

  /** A4 — long-format pairwise Pearson correlation matrix over `cols`
    * (upper triangle, col1 < col2), pandas-`.corr()` semantics:
    * pairwise-complete rows, NULL on zero variance. Spark 4's ANSI-mode
    * `corr` THROWS on zero variance, so each cell is computed as
    * try_divide(covar, std_a·std_b) with the stddevs restricted to
    * pairwise-complete rows — the same formula `corr` uses, minus the
    * divide-by-zero. One aggregate pass computes all k·(k-1)/2 cells. */
  def corrMatrix(df: DataFrame, cols: Seq[String]): DataFrame = {
    val pairs = for {
      i <- cols.indices; j <- cols.indices if i < j
    } yield (cols(i), cols(j))
    val aggs = pairs.map { case (a, b) =>
      val aIfB = when(col(b).isNotNull, col(a))
      val bIfA = when(col(a).isNotNull, col(b))
      try_divide(covar_samp(col(a), col(b)),
        stddev_samp(aIfB) * stddev_samp(bIfA)).as(s"${a}__${b}")
    }
    val wide = df.agg(aggs.head, aggs.tail: _*)
    // unpivot to long format: (col_a, col_b, r)
    val stackExpr = pairs.map { case (a, b) => s"'$a', '$b', `${a}__${b}`" }
      .mkString(s"stack(${pairs.size}, ", ", ", ") as (col_a, col_b, r)")
    wide.select(expr(stackExpr))
  }

  /** A5 — describe()-style summary for one column, exact stats.
    * Decimal sums make mean deterministic under any partitioning;
    * stddev is derived from the exact sums with one closed formula so
    * an oracle can reproduce it bit-for-bit. */
  def summaryExact(df: DataFrame, c: String, scale: Int = 2): DataFrame = {
    val d = col(c).cast(s"decimal(28,$scale)")
    val d2 = (col(c) * col(c)).cast(s"decimal(38,${2 * scale min 6})")
    df.agg(
      count(col(c)).as("cnt"),
      sum(d).as("sum_exact"),
      sum(d2).as("sumsq_exact"),
      min(col(c)).as("mn"),
      max(col(c)).as("mx"),
      graft.functions.ExactPercentile.percentiles(col(c), Seq(0.25, 0.5, 0.75)).as("q")
    ).select(
      col("cnt"),
      (col("sum_exact").cast("double") / col("cnt")).as("mean"),
      sqrt(
        (col("sumsq_exact").cast("double") -
          col("sum_exact").cast("double") * col("sum_exact").cast("double") / col("cnt")) /
          (col("cnt") - 1)).as("stddev"),
      col("mn"), col("mx"),
      col("q").getItem(0).as("q25"), col("q").getItem(1).as("q50"),
      col("q").getItem(2).as("q75"))
  }

  /** A5-all — `describe()` over EVERY listed numeric column at once
    * (reference `app.py:466` summarizes the whole frame in one call),
    * long format: one row per column. ONE aggregate pass computes
    * count/sum/sumsq/min/max/quantiles for all columns — at 100 TB
    * this is one scan + one tiny shuffle regardless of column count,
    * not k separate jobs. Same exact-decimal arithmetic as
    * `summaryExact`, so the oracle reproduces it bit-for-bit. */
  def summaryAllExact(df: DataFrame, cols: Seq[String], scale: Int = 2): DataFrame = {
    // r17 split: the ExactPercentile buffers are TypedImperativeAggregates,
    // and ONE of them in an agg forces the WHOLE aggregate into
    // ObjectHashAggregateExec — no whole-stage codegen for any of the
    // 5·k declarative count/sum/min/max updates. Split, the declarative
    // 20 ride a codegen HashAggregate; both branches hang off the SAME
    // child subtree, so the scan/exchange is planned once and reused
    // (ReusedExchange) — still one pass over the data, two reduce-side
    // iterations over the exchanged rows. Interleaved A/B at sf0.1/32c
    // (7-trial medians ×3): split 1.00–1.14 s vs fused 1.09–1.14 s —
    // a small local win; the decisive cost at this SF is the per-row
    // double→decimal casts (decl-only measured 2.6 s serial vs 0.46 s
    // for all four percentile buffers), which the oracle's exact-
    // decimal contract requires on any shape.
    val declAggs = cols.flatMap { c =>
      val d = col(c).cast(s"decimal(28,$scale)")
      val d2 = (col(c) * col(c)).cast(s"decimal(38,${2 * scale min 6})")
      Seq(
        count(col(c)).as(s"${c}__cnt"),
        sum(d).as(s"${c}__sum"),
        sum(d2).as(s"${c}__sumsq"),
        min(col(c)).cast("double").as(s"${c}__mn"),
        max(col(c)).cast("double").as(s"${c}__mx"))
    }
    val pctAggs = cols.map { c =>
      graft.functions.ExactPercentile.percentiles(col(c), Seq(0.25, 0.5, 0.75))
        .as(s"${c}__q")
    }
    val wide = df.agg(declAggs.head, declAggs.tail: _*)
      .crossJoin(df.agg(pctAggs.head, pctAggs.tail: _*))
    val rows = cols.map { c =>
      val cnt = col(s"${c}__cnt")
      val s = col(s"${c}__sum").cast("double")
      val sq = col(s"${c}__sumsq").cast("double")
      struct(
        lit(c).as("column"),
        cnt.as("cnt"),
        (s / cnt).as("mean"),
        sqrt((sq - s * s / cnt) / (cnt - 1)).as("stddev"),
        col(s"${c}__mn").as("mn"), col(s"${c}__mx").as("mx"),
        col(s"${c}__q").getItem(0).as("q25"),
        col(s"${c}__q").getItem(1).as("q50"),
        col(s"${c}__q").getItem(2).as("q75"))
    }
    wide.select(explode(array(rows: _*)).as("__s")).select(col("__s.*"))
  }
}
