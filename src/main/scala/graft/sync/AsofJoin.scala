package graft.sync

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DataType
import graft.clean.Clean

/** Y5 — as-of resample: align a (possibly irregular) series onto a set
  * of grid ticks, per `df.reindex(grid, method)` in the reference
  * (`/root/reference/app.py:164-165`), method ∈ {pad, backfill, nearest}.
  *
  * Verified semantics (SURVEY.md §2.4 Y5):
  *  - pad:      last series row with ts <= tick; null if none;
  *  - backfill: first series row with ts >= tick; null if none;
  *  - nearest:  row minimizing |ts - tick|; never null (clamps at the
  *              edges); **ties break to the LATER timestamp**;
  *  - an exact tick == ts match returns that row under all methods.
  *
  * One kernel per grid shape: `pad`/`backfill`/`nearest` for an
  * arbitrary grid frame, `uniformGrid` (N series, plus `interp`) for a
  * uniform grid, `keyedPad` for the keyed trade/quote shape.
  *
  * Scale design — the reason this module exists: the naive formulation
  * (`last(...) OVER (ORDER BY ts)` with no partitioning) serializes the
  * whole dataset through ONE partition. Instead we bucket the time axis
  * (`bucketUs`, adaptive by default) and run two cheap passes:
  *
  *   1. union grid markers with series rows, window **partitioned by
  *      time bucket** → within-bucket as-of (parallel across buckets);
  *   2. per-bucket "last payload" aggregate (one row per non-empty
  *      bucket — tiny) → prefix-scan over buckets → broadcast back as
  *      the carry-in for ticks that precede every series row in their
  *      bucket.
  *
  * Net cost: one shuffle of (grid ∪ series) on bucket + one broadcast
  * join. No global sort, no single-partition stage on the big data;
  * the only single-partition window runs on the bucket digest
  * (span/bucketUs rows). This holds at 1000 executors: choose bucketUs
  * so span/bucketUs ≳ cluster parallelism.
  *
  * Caveat: series rows must be unique per timestamp (dedupe upstream,
  * e.g. `groupBy(ts).agg(...)`) — same requirement pandas' reindex
  * imposes on its index. `uniformGrid` fuses that dedupe (`tieCol`).
  */
object AsofJoin {

  /** CAP on the adaptive bucket width (and the fallback for an empty
    * input): long spans keep the cross-bucket digest ≤ span/1 h rows. */
  val DefaultBucketUs: Long = 3600000000L // 1 hour

  /** Cap on the adaptive `uniformGrid` bucket size (ticks/bucket). */
  val DefaultBucketTicks: Long = 65536L

  /** Sentinel: derive the bucket width from the data (the default). */
  val Adaptive: Long = -1L

  /** Identity on a double, deliberately declared nondeterministic: a
    * pushdown fence for the interp blend. The value is a pure function
    * of its input (results never change), but the flag keeps the
    * optimizer from substituting the blend expression into downstream
    * filters — which otherwise quintuples the generated code of the
    * final stage and stalls whole-stage codegen compilation (see the
    * call site). */
  private val interpBarrier =
    org.apache.spark.sql.functions.udf((x: java.lang.Double) => x)
      .asNondeterministic()

  /** Bucket width from (span, parallelism): ~4 buckets per core so the
    * scheduler can balance uneven buckets, capped at `DefaultBucketUs`.
    * A fixed width degenerates to ONE bucket when the span is shorter
    * than it — a single-partition window on the big data, the exact
    * failure this module exists to avoid. */
  def adaptiveBucketUs(spanUs: Long, parallelism: Int): Long =
    math.max(1L, math.min(DefaultBucketUs,
      spanUs / math.max(1L, 4L * parallelism)))

  /** Tick-bucket size from (nTicks, parallelism) — same policy. */
  def adaptiveBucketTicks(nTicks: Long, parallelism: Int): Long =
    math.max(1L, math.min(DefaultBucketTicks,
      nTicks / math.max(1L, 4L * parallelism)))

  /** pad/ffill: for each grid tick, the last series row at ts <= tick. */
  def pad(grid: DataFrame, gridTs: String, series: DataFrame, seriesTs: String,
          valueCols: Seq[String], bucketUs: Long = Adaptive,
          srcTsCol: String = "src_ts"): DataFrame =
    generic(grid, gridTs, series, seriesTs, valueCols, bucketUs, srcTsCol, "pad")

  /** backfill/bfill: first series row at ts >= tick. */
  def backfill(grid: DataFrame, gridTs: String, series: DataFrame, seriesTs: String,
               valueCols: Seq[String], bucketUs: Long = Adaptive,
               srcTsCol: String = "src_ts"): DataFrame =
    generic(grid, gridTs, series, seriesTs, valueCols, bucketUs, srcTsCol, "backfill")

  /** nearest: min |ts - tick|, tie -> later ts, never null when the
    * series is non-empty (SURVEY §2.4). */
  def nearest(grid: DataFrame, gridTs: String, series: DataFrame, seriesTs: String,
              valueCols: Seq[String], bucketUs: Long = Adaptive,
              srcTsCol: String = "src_ts"): DataFrame =
    generic(grid, gridTs, series, seriesTs, valueCols, bucketUs, srcTsCol, "nearest")

  /** Which neighbours a method reads: (pad side, backfill side). */
  private def sides(method: String): (Boolean, Boolean) =
    (method != "backfill" && method != "bfill", method != "pad" && method != "ffill")

  /** The as-of pick from the pad neighbour `fwd` and the backfill
    * neighbour `back` (payload structs carrying `__src`). */
  private def choose(method: String, fwd: Column, back: Column, tickUs: Column): Column =
    method match {
      case "pad" | "ffill"      => fwd
      case "backfill" | "bfill" => back
      case "nearest" =>
        val dPad = tickUs - fwd.getField("__src")
        val dBack = back.getField("__src") - tickUs
        // tie (dPad == dBack) -> backward side = LATER timestamp [verified]
        when(fwd.isNull || (back.isNotNull && dBack <= dPad), back).otherwise(fwd)
      case other => throw new IllegalArgumentException(s"unknown method: $other")
    }

  /** Resolve an adaptive bucket width: one min/max agg over the
    * already-built union (a cheap column scan relative to the shuffle
    * that follows; callers that know their span pass `bucketUs`
    * explicitly and skip it). */
  private def resolveBucketUs(u0: DataFrame, bucketUs: Long): Long =
    if (bucketUs > 0) bucketUs
    else {
      val r = u0.agg(min(col("__t")), max(col("__t"))).head()
      if (r.isNullAt(0)) DefaultBucketUs
      else adaptiveBucketUs(r.getLong(1) - r.getLong(0) + 1,
        u0.sparkSession.sparkContext.defaultParallelism)
    }

  /** One gap fill: `out` becomes the nearest non-null `in` at or before
    * the row in axis order (at or after it when `backward`). */
  private case class Fill(in: String, out: String, backward: Boolean)

  /** The bucketed scan both grid kernels share. `df` carries the bucket
    * `__b`, the `axis` and each fill's sparse `in` column.
    *
    *  1. Within a bucket: a running `last(ignoreNulls)` per direction,
    *     partitioned by `__b` (parallel across buckets). The backward
    *     pass is a DESC-ordered running frame rather than an
    *     UnboundedFollowing one: Spark executes UnboundedFollowing by
    *     rescanning the partition tail per row (O(n²)); the desc
    *     formulation is a second in-partition sort over the same
    *     exchange. `tieBreak` orders rows at an equal axis value, the
    *     same way in both directions.
    *  2. Across buckets: a per-bucket digest (last / first non-null
    *     value of each fill — one row per bucket, tiny by construction)
    *     is scanned by a deliberate single-partition window and
    *     broadcast back as the carry-in from strictly earlier / later
    *     buckets. */
  private def gapFill(df: DataFrame, axis: String, tieBreak: Seq[Column],
                      fills: Seq[Fill]): DataFrame = {
    def running(backward: Boolean) = Window.partitionBy("__b")
      .orderBy((if (backward) col(axis).desc else col(axis).asc) +: tieBreak: _*)
      .rowsBetween(Window.unboundedPreceding, 0)
    def carryName(f: Fill) = s"__c${f.out}"
    val edges = fills.map { f =>
      val at = when(col(f.in).isNotNull, col(axis))
      (if (f.backward) min_by(col(f.in), at) else max_by(col(f.in), at)).as(f.out)
    }
    val carry = df.groupBy("__b").agg(edges.head, edges.tail: _*)
      .select(col("__b") +: fills.map { f =>
        val w = Window.orderBy(if (f.backward) col("__b").desc else col("__b").asc)
          .rowsBetween(Window.unboundedPreceding, -1)
        last(col(f.out), ignoreNulls = true).over(w).as(carryName(f))
      }: _*)
    df.withColumns(fills.map(f =>
        f.out -> last(col(f.in), ignoreNulls = true).over(running(f.backward))).toMap)
      .join(broadcast(carry), Seq("__b"), "left")
      .withColumns(fills.map(f => f.out -> coalesce(col(f.out), col(carryName(f)))).toMap)
      .drop(fills.map(carryName): _*)
  }

  /** The generic-grid kernel: ONE bucketed shuffle of (grid ∪ series),
    * with a running frame per direction the method needs (pad: forward
    * last; backfill: backward first; nearest: both over the same
    * partitioning — no second union pass and no grid-sized join to
    * recombine them). */
  private def generic(grid: DataFrame, gridTs: String, series: DataFrame,
                      seriesTs: String, valueCols: Seq[String], bucketUs: Long,
                      srcTsCol: String, method: String): DataFrame = {
    require(valueCols.nonEmpty, "asof join needs at least one value column")
    val (needPad, needBack) = sides(method)
    val payload = struct(
      unix_micros(col(seriesTs)).as("__src") +: valueCols.map(col): _*)
    val s = series.select(
      unix_micros(col(seriesTs)).as("__t"), lit(0).as("__g"), payload.as("__p"))
    val nullP = lit(null).cast(s.schema("__p").dataType)
    val g = grid.select(unix_micros(col(gridTs)).as("__t"), lit(1).as("__g"), nullP.as("__p"))

    val u0 = g.unionByName(s)
    val u = u0.withColumn("__b", expr(s"__t div ${resolveBucketUs(u0, bucketUs)}L"))
    // series rows sort before the grid marker at an equal __t in both
    // directions (__g asc), so an exact tick == ts match is both the
    // pad and the backfill row
    val fills = (if (needPad) Seq(Fill("__p", "__fwd", backward = false)) else Nil) ++
      (if (needBack) Seq(Fill("__p", "__back", backward = true)) else Nil)
    val filled = gapFill(u, "__t", Seq(col("__g").asc), fills).filter(col("__g") === 1)
    val pick = choose(method,
      if (needPad) col("__fwd") else nullP, if (needBack) col("__back") else nullP, col("__t"))
    filled.select(
      timestamp_micros(col("__t")).as(gridTs) +:
        timestamp_micros(pick.getField("__src")).as(srcTsCol) +:
        valueCols.map(c => pick.getField(c).as(c)): _*)
  }

  /** One resampled series for `uniformGrid`: the frame, its timestamp
    * column, the value columns to carry, and the output column prefix
    * (`""` keeps the names). */
  case class GridSeries(df: DataFrame, tsCol: String,
                        valueCols: Seq[String], prefix: String)

  /** As-of resample of N series onto ONE uniform grid (lo + k·step,
    * k < n) in a single map-combined shuffle — the grid every reference
    * pipeline actually hits (Y4 grids are `date_range`s), and the
    * composed pipeline's Y5+Y6 core (reference `app.py:164-176`).
    *
    * Why a separate kernel: the generic path shuffles the ENTIRE series
    * unioned with the grid. On a uniform grid the candidate tick of
    * each series row is closed-form:
    *  - pad candidate of tick k: last row with ts <= lo+k·step; a row
    *    at offset d=ts-lo belongs to tick ceil(d/step) (clamped at 0;
    *    rows past the last tick pad nothing);
    *  - backfill candidate: first row with ts >= tick; row belongs to
    *    floor(d/step) (clamped at n-1; rows before lo backfill nothing).
    * Every series row explodes into its (side, tick) assignments with
    * its payload in its own sensor's slot (null in the others), and ONE
    * groupBy(tick) computes all 2·N directional picks: the shuffle is
    * O(ticks), not O(rows), regardless of N. The tick axis is then
    * gap-filled with the same bucketed running-window + digest-carry
    * scan as the generic kernel, one window pass for all sensors.
    *
    * Methods: pad/ffill, backfill/bfill, nearest (tie → later ts) and
    * interp (linear in time between the pad and backfill neighbours;
    * value columns come back as DOUBLE, no extrapolation past either
    * end). `tieCol` fuses an upstream "dedupe to one row per ts keeping
    * the MAX tie value" (`dedupeByTs`, the pandas-reindex precondition)
    * into the aggregate: each sensor orders by (ts, tie) in its own
    * slot, so sensors may carry tie columns of different types.
    *
    * The event one-hot (Y7) deliberately does NOT fuse here: the
    * struct-payload max_by buffers force this aggregate off
    * whole-stage codegen, and routing every event row through it was
    * measured slower than `EventPivot`'s separate int-buffer pivot.
    *
    * `dropMissing` keeps only the ticks whose output has no NULL or
    * NaN value (`Clean.dropMissing` of the result, the reference's
    * Y8). For pad, backfill and nearest each payload carries a
    * per-source-row flag `__ok` (`!Clean.anyMissing` over its value
    * columns, evaluated once per row in the explode stage), and a tick
    * is dropped when a sensor's pick is null or not ok. The generic
    * drop over the output columns would be pushed under the pick
    * projection and inline the pick `CASE` once per value column: the
    * final stage's generated method then exceeds HotSpot's 8,000-byte
    * `HugeMethodLimit` and is never JIT-compiled. `interp` blends two
    * rows (a blend of finite values can still be NaN), so it keeps the
    * generic drop. */
  def uniformGrid(spark: org.apache.spark.sql.SparkSession,
                  sensors: Seq[GridSeries],
                  loUs: Long, stepUs: Long, nTicks: Long, method: String,
                  tickCol: String = "tick",
                  tieCol: Option[String] = None,
                  bucketTicks: Long = Adaptive,
                  dropMissing: Boolean = false): DataFrame = {
    require(sensors.nonEmpty, "uniform grid needs at least one series")
    require(sensors.forall(_.valueCols.nonEmpty), "asof join needs value columns")
    require(stepUs > 0 && nTicks > 0, "grid must be non-empty")
    val (needPad, needBack) = sides(method)
    val okFlag = dropMissing && method != "interp"
    // closed-form (unlike the generic kernels, no data scan needed)
    val effBucketTicks =
      if (bucketTicks > 0) bucketTicks
      else adaptiveBucketTicks(nTicks, spark.sparkContext.defaultParallelism)

    // exact integer floor-division (d may be negative; `div` truncates
    // toward zero, so go through pmod)
    def floorDiv(x: Column): Column = (x - pmod(x, lit(stepUs))) / lit(stepUs)
    def payload(gs: GridSeries) = {
      val ok =
        if (okFlag) Seq((!Clean.anyMissing(gs.df.select(gs.valueCols.map(col): _*))).as("__ok"))
        else Nil
      struct(unix_micros(col(gs.tsCol)).as("__src") +: gs.valueCols.map(col) ++: ok: _*)
    }
    // both sides MAXIMIZE their ordering key: pad the latest ts,
    // backfill the earliest (its key negates ts); at an equal ts either
    // keeps the largest tie, whatever the tie column's type
    def ordering(key: Column) =
      tieCol.fold(key)(tc => struct(key.as("__t"), col(tc).as("__tie")))
    // per-sensor slot types (the null slots in the other union branches)
    val slotTypes = sensors.map { gs =>
      val sch = gs.df.select(payload(gs).as("p"),
        ordering(unix_micros(col(gs.tsCol))).as("o")).schema
      (sch("p").dataType, sch("o").dataType)
    }
    def nullP(i: Int) = lit(null).cast(slotTypes(i)._1)

    // one branch per sensor: explode each row into its admissible
    // (side, tick) assignments; its payload and the ordering key of the
    // side each assignment feeds fill slot i, every other slot is null
    val sensorBranches = sensors.zipWithIndex.map { case (gs, i) =>
      val t = unix_micros(col(gs.tsCol))
      val d = t - lit(loUs)
      val kp = floorDiv(d + stepUs - 1).cast("long")
      val kb = floorDiv(d).cast("long")
      val assignments =
        (if (needPad)
          Seq(struct(lit(0).as("__side"), greatest(kp, lit(0L)).as("__k"),
            (kp <= nTicks - 1).as("__keep"))) else Nil) ++
        (if (needBack)
          Seq(struct(lit(1).as("__side"), least(kb, lit(nTicks - 1)).as("__k"),
            (kb >= 0L).as("__keep"))) else Nil)
      val side = col("__e").getField("__side")
      gs.df.select(explode(array(assignments: _*)).as("__e"),
          payload(gs).as("__pp"), ordering(t).as("__opp"), ordering(-t).as("__obb"))
        .filter(col("__e").getField("__keep"))
        .select(col("__e").getField("__k").as("__k") +: sensors.indices.flatMap { j =>
          val (pType, oType) = slotTypes(j)
          def slot(c: Column, tpe: DataType) = if (j == i) c else lit(null).cast(tpe)
          Seq(slot(col("__pp"), pType).as(s"__p$j")) ++
            (if (needPad) Seq(slot(when(side === 0, col("__opp")), oType).as(s"__op$j"))
             else Nil) ++
            (if (needBack) Seq(slot(when(side === 1, col("__obb")), oType).as(s"__ob$j"))
             else Nil)
        }: _*)
    }

    // ONE groupBy(tick): max_by skips rows whose ordering is null, so
    // each aggregate sees only its own (sensor, side) rows
    val aggs = sensors.indices.flatMap { i =>
      (if (needPad) Seq(max_by(col(s"__p$i"), col(s"__op$i")).as(s"__ap$i")) else Nil) ++
        (if (needBack) Seq(max_by(col(s"__p$i"), col(s"__ob$i")).as(s"__ab$i")) else Nil)
    }
    val perTick = sensorBranches.reduce(_ unionAll _)
      .groupBy(col("__k")).agg(aggs.head, aggs.tail: _*)
    val ticks = spark.range(0, nTicks).select(col("id").as("__k"))
      .join(perTick, Seq("__k"), "left")
      .withColumn("__b", expr(s"__k div ${effBucketTicks}L"))
    // one row per tick: no marker rows, so no tie-break on the axis
    val filled = gapFill(ticks, "__k", Nil, sensors.indices.flatMap { i =>
      (if (needPad) Seq(Fill(s"__ap$i", s"__ap$i", backward = false)) else Nil) ++
        (if (needBack) Seq(Fill(s"__ab$i", s"__ab$i", backward = true)) else Nil)
    })

    val tickUs = lit(loUs) + col("__k") * stepUs
    def fwd(i: Int) = if (needPad) col(s"__ap$i") else nullP(i)
    def back(i: Int) = if (needBack) col(s"__ab$i") else nullP(i)
    def pick(i: Int) = choose(method, fwd(i), back(i), tickUs)
    val sensorCols = sensors.zipWithIndex.flatMap { case (gs, i) =>
      def out(c: String) = if (gs.prefix.isEmpty) c else s"${gs.prefix}_$c"
      if (method == "interp") {
        // v(tick) = v0 + (v1 - v0) * (tick - t0) / (t1 - t0) between the
        // pad neighbour (t0, v0) and the backfill neighbour (t1, v1); a
        // tick landing exactly on a sample returns that sample
        val t0 = fwd(i).getField("__src")
        val t1 = back(i).getField("__src")
        val frac = (tickUs - t0).cast("double") / (t1 - t0).cast("double")
        gs.valueCols.map { c =>
          val v0 = fwd(i).getField(c).cast("double")
          val v1 = back(i).getField(c).cast("double")
          // interpBarrier: identity, but it stops predicate pushdown
          // from substituting this whole blend into a downstream
          // dropna filter. Without it the generated filter stage
          // carries ~5 inlined copies of the blend and whole-stage
          // codegen recompiles a huge class on every fresh plan —
          // measured +1.9 s per run on the flagship (4.70 s vs 2.81 s
          // warm; with codegen disabled the two methods tie, so the
          // cost is code SIZE, not arithmetic).
          interpBarrier(
            when(fwd(i).isNull || back(i).isNull, lit(null).cast("double"))
              .when(t1 === t0, v0)
              .otherwise(v0 + (v1 - v0) * frac))
            .as(out(c))
        }
      } else gs.valueCols.map(c => pick(i).getField(c).as(out(c)))
    }
    // the flag drop: one `__ok` read per sensor pick (null when the
    // pick is null, so the tick is dropped)
    val kept =
      if (!okFlag) filled
      else filled.filter(sensors.indices.map(pick(_).getField("__ok")).reduce(_ && _))
    val out = kept.select(timestamp_micros(tickUs).as(tickCol) +: sensorCols: _*)
    if (dropMissing && !okFlag) Clean.dropMissing(out) else out
  }

  /** KEYED as-of join — the trade/quote shape: for each left row, the
    * last right row with the SAME KEY and rightTs <= leftTs (null when
    * the key has no earlier right row). Right rows must be unique per
    * (key, ts) — dedupe upstream, as with the grid kernels.
    *
    * Scale design mirrors the grid kernel, with the key joining the
    * partitioning: one shuffle of (left ∪ right) on (key, time
    * bucket) → within-bucket forward fill (parallel across keys AND
    * buckets); then a per-(key, bucket) digest (one row per pair —
    * tiny relative to the data) carries the last right payload across
    * a key's empty buckets via an ordinary per-key ordered window on
    * the digest. No global sort; no single-partition stage; the carry
    * join is a plain shuffle join on (key, bucket). */
  def keyedPad(left: DataFrame, leftTs: String,
               right: DataFrame, rightTs: String,
               keyCols: Seq[String], valueCols: Seq[String],
               bucketUs: Long = Adaptive,
               srcTsCol: String = "src_ts"): DataFrame = {
    require(keyCols.nonEmpty, "keyed as-of needs at least one key column")
    require(valueCols.nonEmpty, "asof join needs at least one value column")
    val leftCols = left.columns.toSeq
    val keyExprs = keyCols.map(col)
    val rPayload = struct(
      unix_micros(col(rightTs)).as("__src") +: valueCols.map(col): _*)
    val lPayload = struct(leftCols.map(col): _*)
    val l = left.select(keyExprs ++ Seq(unix_micros(col(leftTs)).as("__t"),
      lit(1).as("__g"), lPayload.as("__l")): _*)
    val lType = l.schema("__l").dataType
    val r = right.select(keyExprs ++ Seq(unix_micros(col(rightTs)).as("__t"),
      lit(0).as("__g"), rPayload.as("__p")): _*)
    val pType = r.schema("__p").dataType
    val u0 = r.withColumn("__l", lit(null).cast(lType))
      .unionByName(l.withColumn("__p", lit(null).cast(pType)))
    val effBucketUs = resolveBucketUs(u0, bucketUs)
    val u = u0.withColumn("__b", expr(s"__t div ${effBucketUs}L"))

    // right row sorts before a left marker at the same (key, ts), so
    // an exact-timestamp quote is visible to its trade (ts <= leftTs)
    val wF = Window.partitionBy(keyExprs :+ col("__b"): _*)
      .orderBy(col("__t").asc, col("__g").asc)
      .rowsBetween(Window.unboundedPreceding, 0)
    val filled = u.withColumn("__fp", last(col("__p"), ignoreNulls = true).over(wF))

    // per-(key, bucket) digest over ALL buckets the key touches (left
    // markers included, so keys idle on the right side still carry)
    val digest = u.groupBy(keyExprs :+ col("__b"): _*)
      .agg(max_by(col("__p"), when(col("__p").isNotNull, col("__t"))).as("__dl"))
    val wC = Window.partitionBy(keyExprs: _*).orderBy(col("__b").asc)
      .rowsBetween(Window.unboundedPreceding, -1)
    val carry = digest
      .withColumn("__cf", last(col("__dl"), ignoreNulls = true).over(wC))
      .select(keyExprs :+ col("__b") :+ col("__cf"): _*)

    val pick = coalesce(col("__fp"), col("__cf"))
    filled.join(carry, keyCols :+ "__b", "left")
      .filter(col("__g") === 1)
      .select(leftCols.map(c => col("__l").getField(c).as(c)) ++
        Seq(timestamp_micros(pick.getField("__src")).as(srcTsCol)) ++
        valueCols.map(c => pick.getField(c).as(c)): _*)
  }

  /** Convenience dedupe: collapse duplicate timestamps keeping the row
    * with the greatest tiebreaker (deterministic input for the kernel). */
  def dedupeByTs(series: DataFrame, tsCol: String, tieCol: String): DataFrame = {
    val others = series.columns.filterNot(_ == tsCol)
    series.groupBy(col(tsCol))
      .agg(max_by(struct(others.map(col): _*), col(tieCol)).as("__r"))
      .select(col(tsCol) +: others.map(c => col("__r").getField(c).as(c)): _*)
  }
}
