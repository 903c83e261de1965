package graft.sync

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Banded range (epsilon) join — pair up rows whose timestamps are
  * within a tolerance of each other when there is NO equi key to hang
  * the join on (burst/co-occurrence detection across a whole event
  * stream).
  *
  * The naive formulation is a cross join with a |Δt| <= W predicate —
  * O(n²) comparisons and a broadcast-or-BNLJ plan that is unrunnable at
  * any real scale. The scalable shape is the classic banding trick (the
  * same one the MinHash-LSH dedupe uses for set similarity): quantize
  * the time axis into buckets of exactly the tolerance width W. Any
  * pair within W spans at most one bucket boundary, so it lands either
  * in the same bucket or in adjacent ones. Exploding ONE side into
  * (its own bucket, its own bucket + 1) and equi-joining on the bucket
  * id turns the range join into a plain shuffled hash join with 2n
  * left rows — every candidate pair is examined exactly once, and the
  * exact |Δt| <= W predicate then runs only inside co-bucketed
  * candidates.
  *
  * Dedup invariant (why each unordered pair appears exactly once):
  *  - adjacent-bucket pair: matched only with the EARLIER-bucket row on
  *    the exploded side (the mirror orientation would need the later
  *    row's bucket - 1, which is never emitted);
  *  - same-bucket pair: both orientations co-bucket, so the id order
  *    `a_id < b_id` keeps exactly one.
  *
  * At 100 TB: shuffle volume is 3n rows keyed by W-wide time buckets —
  * pick W (or pre-filter the input) so a single bucket's burst fits an
  * executor; a hot second is at worst one straggler task, never a plan
  * change. No part of this is data-dependent-cross-join shaped.
  */
object RangeJoin {

  /** All unordered pairs of `df` rows with |ts_a - ts_b| <= `withinUs`
    * (micros), excluding self-pairs. Output: `id_lo`, `id_hi` (the pair
    * normalized by id), `delta_us` (absolute gap), plus `payload`
    * columns from both sides prefixed `lo_`/`hi_`.
    *
    * `idCol` must be unique per row (it is the pair-dedup axis). */
  def selfPairsWithin(df: DataFrame, tsCol: String, idCol: String,
                      withinUs: Long, payload: Seq[String] = Nil): DataFrame = {
    require(withinUs > 0, "tolerance must be positive")
    val base = df.select(
      Seq(col(idCol).as("__id"), unix_micros(col(tsCol)).as("__t")) ++
        payload.map(col): _*)
      .withColumn("__b0", expr(s"__t div ${withinUs}L"))

    // left side exploded into its own band and the next one; __same
    // marks the non-shifted copy (the only one that can co-bucket with
    // a same-band right row)
    val left = base.select(
      Seq(col("__id").as("__a_id"), col("__t").as("__a_t"),
        col("__b0").as("__a_b0")) ++
        payload.map(c => col(c).as(s"__a_$c")): _*)
      .withColumn("__b", explode(array(col("__a_b0"), col("__a_b0") + 1)))
      .withColumn("__same", col("__b") === col("__a_b0"))
    val right = base.select(
      Seq(col("__id").as("__b_id"), col("__t").as("__b_t"),
        col("__b0").as("__b")) ++
        payload.map(c => col(c).as(s"__b_$c")): _*)

    val within = abs(col("__a_t") - col("__b_t")) <= withinUs
    val once = when(col("__same"), col("__a_id") < col("__b_id"))
      .otherwise(col("__a_id") =!= col("__b_id"))
    val lo = col("__a_id") < col("__b_id")
    def pickLo(c: String) = when(lo, col(s"__a_$c")).otherwise(col(s"__b_$c"))
    def pickHi(c: String) = when(lo, col(s"__b_$c")).otherwise(col(s"__a_$c"))

    left.join(right, Seq("__b"))
      .filter(within && once)
      .select(
        Seq(least(col("__a_id"), col("__b_id")).as("id_lo"),
          greatest(col("__a_id"), col("__b_id")).as("id_hi"),
          abs(col("__a_t") - col("__b_t")).as("delta_us")) ++
          payload.map(c => pickLo(c).as(s"lo_$c")) ++
          payload.map(c => pickHi(c).as(s"hi_$c")): _*)
  }
}
