package graft

import org.apache.spark.sql.SparkSessionExtensions

/** Session extension wiring the engine's custom Catalyst expressions
  * into the SQL surface:
  *
  * {{{
  * spark.sql.extensions=graft.GraftExtensions
  * SELECT cosine_sim(a.embedding, b.embedding) FROM ...
  * }}}
  *
  * The functions are the table in `graft.functions.Registry`; the
  * Column API wrappers register any name a session lacks through
  * `Registry.ensure`. The extension makes them first-class for
  * pure-SQL users and notebooks without touching the internal registry
  * by hand. */
class GraftExtensions extends (SparkSessionExtensions => Unit) {

  override def apply(ext: SparkSessionExtensions): Unit = {
    // optimizer: naive |ta - tb| <= W joins become banded equi-joins
    // (O(n) instead of a nested-loop O(n²) plan) — see
    // graft.plans.BandedRangeJoinRule
    ext.injectOptimizerRule(_ => graft.plans.BandedRangeJoinRule)

    graft.functions.Registry.all.foreach(f =>
      ext.injectFunction((f.id, f.info, f.builder)))
  }
}
