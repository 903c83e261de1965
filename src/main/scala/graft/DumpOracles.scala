package graft

import java.nio.file.{Files, Paths}

/** Dump SparkEntry.oracleSql as JSON WITHOUT running any query — the
  * input to `tools/oracle_budget.py`, which executes every oracle in
  * DuckDB at sf0.001 under a per-oracle wall-clock budget. This is the
  * pre-round guard that makes the correctness gate un-zeroable: a
  * pathological oracle (e.g. an exponentially-inlined CTE chain like
  * round 9's `q_markov_attribution`) is caught as ONE red row here,
  * before the driver's checker ever sees it.
  *
  * Usage: sbt "runMain graft.DumpOracles /tmp/oracles.json"
  */
object DumpOracles {
  def main(args: Array[String]): Unit = {
    val out = args.headOption.getOrElse("/tmp/oracles.json")
    Files.writeString(Paths.get(out), SparkEntry.oracleJson())
    println(s"[dump-oracles] ${SparkEntry.oracleSql.size} oracles -> $out")
  }
}
