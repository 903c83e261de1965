package graft.sync

import graft.GraftSpec
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._

/** Pins the [verified] as-of semantics from SURVEY §2.4 / FIXTURES §A5:
  * tie → LATER ts for nearest, strict inclusivity, null edges for
  * pad/backfill, nearest never null, and cross-bucket carry. */
class AsofJoinSpec extends GraftSpec {

  private def series(pairs: (Long, Double)*) =
    tsDf("ts", pairs.map(_._1), Seq("value" -> pairs.map(_._2)))

  private def grid(ticks: Long*) = tsDf("tick", ticks)

  private def run(kind: String, g: Seq[Long], s: Seq[(Long, Double)],
                  bucketUs: Long = 3600000000L): Map[Long, (Option[Long], Option[Double])] = {
    val fn = kind match {
      case "pad"      => AsofJoin.pad _
      case "backfill" => AsofJoin.backfill _
      case "nearest"  => AsofJoin.nearest _
    }
    fn(grid(g: _*), "tick", series(s: _*), "ts", Seq("value"), bucketUs, "src_ts")
      .select(unix_micros(col("tick")), unix_micros(col("src_ts")), col("value"))
      .collect().map { r =>
        r.getLong(0) -> ((if (r.isNullAt(1)) None else Some(r.getLong(1))),
          (if (r.isNullAt(2)) None else Some(r.getDouble(2))))
      }.toMap
  }

  private val MS = 1000L // micros per milli

  /** One series on the uniform grid lo + k·step (k < n) through the
    * multi-series kernel, unprefixed; the source ts rides along as a
    * value column and comes back as `src_ts` (interp has no source). */
  private def ug(s: Seq[(Long, Double)], lo: Long, step: Long, n: Long, method: String,
                 bucketTicks: Long = AsofJoin.Adaptive) = {
    val cols = if (method == "interp") Seq("value") else Seq("ts", "value")
    AsofJoin.uniformGrid(spark, Seq(AsofJoin.GridSeries(series(s: _*), "ts", cols, "")),
      lo, step, n, method, bucketTicks = bucketTicks)
      .withColumnRenamed("ts", "src_ts")
  }

  test("nearest: exact tie breaks to the LATER timestamp") {
    // source at 0 ms and 100 ms, tick at 50 ms — equidistant
    val out = run("nearest", Seq(50 * MS), Seq((0L, 1.0), (100 * MS, 2.0)))
    assert(out(50 * MS) === ((Some(100 * MS), Some(2.0))))
  }

  test("pad picks last ts <= tick; backfill first ts >= tick") {
    val s = Seq((0L, 1.0), (100 * MS, 2.0))
    assert(run("pad", Seq(50 * MS), s)(50 * MS) === ((Some(0L), Some(1.0))))
    assert(run("backfill", Seq(50 * MS), s)(50 * MS) === ((Some(100 * MS), Some(2.0))))
  }

  test("an exact tick == ts match returns that row under all methods") {
    val s = Seq((0L, 1.0), (50 * MS, 5.0), (100 * MS, 2.0))
    for (k <- Seq("pad", "backfill", "nearest"))
      assert(run(k, Seq(50 * MS), s)(50 * MS) === ((Some(50 * MS), Some(5.0))), k)
  }

  test("edges: pad null before first, backfill null after last, nearest clamps") {
    val s = Seq((100 * MS, 1.0), (200 * MS, 2.0))
    val g = Seq(0L, 300 * MS)
    val pad = run("pad", g, s)
    val back = run("backfill", g, s)
    val near = run("nearest", g, s)
    assert(pad(0L) === ((None, None)))                       // before first
    assert(pad(300 * MS) === ((Some(200 * MS), Some(2.0))))
    assert(back(300 * MS) === ((None, None)))                // after last
    assert(back(0L) === ((Some(100 * MS), Some(1.0))))
    assert(near(0L) === ((Some(100 * MS), Some(1.0))))       // clamped, not null
    assert(near(300 * MS) === ((Some(200 * MS), Some(2.0))))
  }

  test("pad carries across empty buckets (bucket-digest prefix scan)") {
    // series only in bucket 0; ticks in buckets 3 and 7 (1 s buckets)
    val bucketUs = 1000000L
    val s = Seq((100 * MS, 42.0))
    val g = Seq(3500 * MS, 7200 * MS)
    val out = run("pad", g, s, bucketUs)
    assert(out(3500 * MS) === ((Some(100 * MS), Some(42.0))))
    assert(out(7200 * MS) === ((Some(100 * MS), Some(42.0))))
  }

  test("nearest equals the brute-force argmin (tie -> later) on random data") {
    val rng = new scala.util.Random(7)
    val sTs = rng.shuffle((0 until 2000).toList).take(300)
      .map(i => i.toLong * 10 * MS).distinct.sorted
    val s = sTs.map(t => (t, t.toDouble))
    val g = (0 until 150).map(_ => rng.nextInt(22000).toLong * MS)
      .distinct.sorted
    val out = run("nearest", g, s, bucketUs = 3000000L)
    for (tick <- g) {
      val best = s.map { case (t, _) => (math.abs(t - tick), -t, t) }.min._3
      assert(out(tick)._1 === Some(best),
        s"tick=$tick expected nearest=$best got ${out(tick)._1}")
    }
  }

  test("pad equals brute-force max ts <= tick on random data") {
    val rng = new scala.util.Random(11)
    val s = (0 until 200).map(_ => rng.nextInt(50000).toLong * MS)
      .distinct.sorted.map(t => (t, t.toDouble))
    val g = (0 until 100).map(_ => rng.nextInt(55000).toLong * MS).distinct.sorted
    val out = run("pad", g, s, bucketUs = 5000000L)
    for (tick <- g) {
      val expect = s.map(_._1).filter(_ <= tick) match {
        case Nil => None
        case xs  => Some(xs.max)
      }
      assert(out(tick)._1 === expect, s"tick=$tick")
    }
  }

  test("uniformGrid agrees with the generic kernels on random data, all methods") {
    val rng = new scala.util.Random(23)
    val s = (0 until 300).map(_ => rng.nextInt(100000).toLong * MS)
      .distinct.sorted.map(t => (t, t.toDouble))
    val (lo, step, n) = (5000 * MS, 7000 * MS, 14L)
    val gTicks = (0L until n).map(k => lo + k * step)
    for (m <- Seq("pad", "backfill", "nearest")) {
      val generic = run(m, gTicks, s, bucketUs = 20000000L)
      val uniform = ug(s, lo, step, n, m, bucketTicks = 5L)
        .select(unix_micros(col("tick")), unix_micros(col("src_ts")), col("value"))
        .collect().map { r =>
          r.getLong(0) -> ((if (r.isNullAt(1)) None else Some(r.getLong(1))),
            (if (r.isNullAt(2)) None else Some(r.getDouble(2))))
        }.toMap
      assert(uniform === generic, s"method=$m")
    }
  }

  test("uniformGrid edges: null pad before first, null backfill after last, nearest clamps") {
    val s = Seq((100 * MS, 1.0), (200 * MS, 2.0))
    // ticks at 0 and 300 ms: before-first and after-last
    def edges(m: String) = ug(s, 0L, 300 * MS, 2L, m)
      .select(unix_micros(col("tick")), unix_micros(col("src_ts")))
      .collect().map(r => r.getLong(0) ->
        (if (r.isNullAt(1)) None else Some(r.getLong(1)))).toMap
    assert(edges("pad") === Map(0L -> None, 300 * MS -> Some(200 * MS)))
    assert(edges("backfill") === Map(0L -> Some(100 * MS), 300 * MS -> None))
    assert(edges("nearest") === Map(0L -> Some(100 * MS), 300 * MS -> Some(200 * MS)))
  }

  test("interp: linear between neighbors, exact ticks fixpoint, null edges") {
    // samples: (100ms, 1.0), (200ms, 3.0); ticks every 50 ms from 0
    val s = Seq((100 * MS, 1.0), (200 * MS, 3.0))
    val out = ug(s, 0L, 50 * MS, 6L, "interp")
      .select(unix_micros(col("tick")), col("value"))
      .collect().map(r => r.getLong(0) ->
        (if (r.isNullAt(1)) None else Some(r.getDouble(1)))).toMap
    assert(out(0L) === None)             // before first sample: no extrapolation
    assert(out(50 * MS) === None)
    assert(out(100 * MS) === Some(1.0))  // exact tick == sample returns it
    assert(out(150 * MS) === Some(2.0))  // midpoint: 1 + (3-1)*0.5
    assert(out(200 * MS) === Some(3.0))
    assert(out(250 * MS) === None)       // after last sample: no extrapolation
  }

  test("interp stays within [min, max] of its two neighbors on random data") {
    val rnd = new scala.util.Random(7)
    val s = (0 until 40).map(i =>
      (i * 37 * MS + rnd.nextInt(20000), rnd.nextDouble() * 100))
      .sortBy(_._1).distinct
    val rows = ug(s, 0L, 25 * MS, 60L, "interp")
      .select(unix_micros(col("tick")), col("value")).collect()
    for (r <- rows if !r.isNullAt(1)) {
      val tick = r.getLong(0); val v = r.getDouble(1)
      val before = s.filter(_._1 <= tick).map(_._2).lastOption
      val after = s.find(_._1 >= tick).map(_._2)
      (before, after) match {
        case (Some(v0), Some(v1)) =>
          assert(v >= math.min(v0, v1) - 1e-9 && v <= math.max(v0, v1) + 1e-9,
            s"tick=$tick v=$v v0=$v0 v1=$v1")
        case _ => fail(s"interp produced a value at uncovered tick $tick")
      }
    }
  }

  test("uniformGrid on an empty series yields all-null ticks, never crashes") {
    for (m <- Seq("pad", "backfill", "nearest")) {
      val out = ug(Nil, 0L, 1000000L, 3L, m)
        .select(col("src_ts"), col("value")).collect()
      assert(out.length === 3, m)
      assert(out.forall(r => r.isNullAt(0) && r.isNullAt(1)), m)
    }
  }

  test("default-args (adaptive bucket) pad/backfill/nearest match explicit-bucket results") {
    // sub-hour span: a fixed 1 h default collapses to ONE bucket, and the
    // raw Adaptive sentinel (-1) would negate the bucket axis outright
    val rng = new scala.util.Random(31)
    val s = (0 until 120).map(_ => rng.nextInt(9000).toLong * MS)
      .distinct.sorted.map(t => (t, t.toDouble))
    val g = (0 until 60).map(_ => rng.nextInt(10000).toLong * MS).distinct.sorted
    def runDefault(kind: String) = {
      val out = kind match {
        case "pad"      => AsofJoin.pad(grid(g: _*), "tick", series(s: _*), "ts", Seq("value"))
        case "backfill" => AsofJoin.backfill(grid(g: _*), "tick", series(s: _*), "ts", Seq("value"))
        case "nearest"  => AsofJoin.nearest(grid(g: _*), "tick", series(s: _*), "ts", Seq("value"))
      }
      out.select(unix_micros(col("tick")), unix_micros(col("src_ts")), col("value"))
        .collect().map { r =>
          r.getLong(0) -> ((if (r.isNullAt(1)) None else Some(r.getLong(1))),
            (if (r.isNullAt(2)) None else Some(r.getDouble(2))))
        }.toMap
    }
    for (k <- Seq("pad", "backfill", "nearest"))
      assert(runDefault(k) === run(k, g, s, bucketUs = 2000000L), k)
  }

  test("adaptive bucket width never degenerates to one bucket on short spans") {
    val p = spark.sparkContext.defaultParallelism
    for (spanUs <- Seq(10000L, 1000000L, 3600000000L, 86400000000L)) {
      val w = AsofJoin.adaptiveBucketUs(spanUs, p)
      assert(w >= 1L && w <= AsofJoin.DefaultBucketUs, s"span=$spanUs")
      val nBuckets = (spanUs + w - 1) / w
      // law (VERDICT r3 #3): >= min(parallelism, span/2) buckets
      assert(nBuckets >= math.min(p.toLong, spanUs / 2), s"span=$spanUs w=$w")
    }
    val t = AsofJoin.adaptiveBucketTicks(100L, p)
    assert((100L + t - 1) / t >= math.min(p.toLong, 50L))
  }

  test("uniformGrid default (adaptive) bucketTicks matches an explicit bucket size") {
    val rng = new scala.util.Random(41)
    val s = (0 until 200).map(_ => rng.nextInt(60000).toLong * MS)
      .distinct.sorted.map(t => (t, t.toDouble))
    val (lo, step, n) = (0L, 4000 * MS, 16L)
    for (m <- Seq("pad", "backfill", "nearest")) {
      def snap(df: org.apache.spark.sql.DataFrame) =
        df.select(unix_micros(col("tick")), unix_micros(col("src_ts")), col("value"))
          .collect().map(r => (r.getLong(0),
            if (r.isNullAt(1)) -1L else r.getLong(1),
            if (r.isNullAt(2)) None else Some(r.getDouble(2)))).sortBy(_._1).toSeq
      val adaptive = snap(ug(s, lo, step, n, m))
      val explicit = snap(ug(s, lo, step, n, m, bucketTicks = 3L))
      assert(adaptive === explicit, s"method=$m")
    }
  }

  test("multi-series uniformGrid equals dedupeByTs + the generic kernels, per series") {
    import spark.implicits._
    val rng = new scala.util.Random(53)
    // duplicate timestamps; (ts, tie) pairs unique so the winner is defined
    def draw(n: Int) = (0 until n).map(_ =>
      (100 * MS + rng.nextInt(390) * 10 * MS, rng.nextInt(40), rng.nextDouble()))
      .groupBy(r => (r._1, r._2)).values.map(_.head).toSeq
    // the tie is an int in one series and a string in the other; the
    // string compares lexicographically ("s9" > "s10"), never as a number
    val a = draw(160).toDF("us", "seq", "a")
      .select(timestamp_micros(col("us")).as("ts"), col("seq"), col("a"))
    val b = draw(120).map { case (us, k, v) => (us, s"s$k", v, v * 2 - 1) }
      .toDF("us", "seq", "b1", "b2")
      .select(timestamp_micros(col("us")).as("ts"), col("seq"), col("b1"), col("b2"))
    assert(a.count() > a.select("ts").distinct().count())
    assert(b.count() > b.select("ts").distinct().count())
    val sensors = Seq(("x", a, Seq("a")), ("y", b, Seq("b1", "b2")))
    // ticks before the first and after the last sample, on samples
    // (k = 5, 15, ...) and midway between two (k = 0, 10, ...)
    val (lo, step, n) = (5 * MS, 61 * MS, 75L)
    val ticks = (0L until n).map(k => lo + k * step)

    type Picks = Map[Long, Option[(Long, Seq[Double])]]
    def snap(df: org.apache.spark.sql.DataFrame, src: String, cols: Seq[String]): Picks =
      df.select(unix_micros(col("tick")) +: unix_micros(col(src)) +: cols.map(col): _*)
        .collect().map(r => r.getLong(0) -> (if (r.isNullAt(1)) None
          else Some((r.getLong(1), cols.indices.map(i => r.getDouble(i + 2)))))).toMap
    def oracle(kind: String, df: org.apache.spark.sql.DataFrame, cols: Seq[String]): Picks = {
      val fn = kind match {
        case "pad"      => AsofJoin.pad _
        case "backfill" => AsofJoin.backfill _
        case "nearest"  => AsofJoin.nearest _
      }
      snap(fn(grid(ticks: _*), "tick", AsofJoin.dedupeByTs(df, "ts", "seq"), "ts", cols,
        300 * MS, "src_ts"), "src_ts", cols)
    }
    def kernel(method: String, withSrc: Boolean) = AsofJoin.uniformGrid(spark,
      sensors.map { case (p, df, cols) =>
        AsofJoin.GridSeries(df, "ts", (if (withSrc) Seq("ts") else Nil) ++ cols, p) },
      lo, step, n, method, tieCol = Some("seq"), bucketTicks = 7L)

    for ((m, base) <- Seq("pad" -> "pad", "ffill" -> "pad", "backfill" -> "backfill",
                          "bfill" -> "backfill", "nearest" -> "nearest")) {
      val out = kernel(m, withSrc = true)
      for ((p, df, cols) <- sensors)
        assert(snap(out, s"${p}_ts", cols.map(c => s"${p}_$c")) === oracle(base, df, cols),
          s"method=$m series=$p")
    }

    val out = kernel("interp", withSrc = false)
    for ((p, df, cols) <- sensors) {
      val (pad, back) = (oracle("pad", df, cols), oracle("backfill", df, cols))
      val rows = out.select(unix_micros(col("tick")) +: cols.map(c => col(s"${p}_$c")): _*)
        .collect()
      assert(rows.length === n)
      for (r <- rows) {
        val tick = r.getLong(0)
        (pad(tick), back(tick)) match {
          case (Some((t0, v0)), Some((t1, v1))) =>
            val expect = if (t1 == t0) v0 else v0.zip(v1).map { case (x0, x1) =>
              x0 + (x1 - x0) * (tick - t0).toDouble / (t1 - t0).toDouble }
            expect.zipWithIndex.foreach { case (v, i) =>
              assert(r.getDouble(i + 1) === v +- 1e-9, s"interp series=$p tick=$tick") }
          case _ =>
            assert(cols.indices.forall(i => r.isNullAt(i + 1)), s"interp series=$p tick=$tick")
        }
      }
    }
  }

  test("keyedPad equals per-key brute force on random data (incl. exact-ts and idle keys)") {
    val rnd = new scala.util.Random(11)
    val rights = (0 until 120).map(i =>
      (rnd.nextInt(5).toLong, rnd.nextInt(50) * 10L * MS, rnd.nextDouble()))
      .distinct.groupBy(t => (t._1, t._2)).map(_._2.maxBy(_._3)).toSeq
    val lefts = (0 until 80).map(i =>
      (i.toLong, rnd.nextInt(8).toLong, rnd.nextInt(600) * MS)) // keys 5-7 idle on right
    import spark.implicits._
    val rightDf = rights.toDF("k", "tus", "value")
      .select(col("k"), expr("timestamp_micros(tus)").as("ts"), col("value"))
    val leftDf = lefts.toDF("id", "k", "tus")
      .select(col("id"), col("k"), expr("timestamp_micros(tus)").as("ts"))
    val out = AsofJoin.keyedPad(leftDf, "ts", rightDf, "ts",
      keyCols = Seq("k"), valueCols = Seq("value"), bucketUs = 100 * MS)
      .select(col("id"), unix_micros(col("src_ts")), col("value"))
      .collect().map(r => r.getLong(0) ->
        (if (r.isNullAt(1)) None else Some((r.getLong(1), r.getDouble(2))))).toMap
    assert(out.size === lefts.size)
    for ((id, k, t) <- lefts) {
      val expected = rights.filter(r => r._1 == k && r._2 <= t)
        .sortBy(_._2).lastOption.map(r => (r._2, r._3))
      assert(out(id) === expected, s"left id=$id k=$k t=$t")
    }
  }

  test("dedupeByTs keeps the row with the greatest tiebreaker") {
    import spark.implicits._
    val df = Seq((1L, 10.0, 1L), (1L, 20.0, 2L), (2L, 5.0, 1L))
      .toDF("ts", "value", "seq")
    val out = AsofJoin.dedupeByTs(df, "ts", "seq").orderBy("ts").collect()
    assert(out.map(r => (r.getLong(0), r.getDouble(1))).toSeq ===
      Seq((1L, 20.0), (2L, 5.0)))
  }
}
