package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.queries.{ExtQueries, QueryDef, R11Queries, R12Queries, R13Queries, R14Queries, R15Queries, R16Queries, RefQueries, SqlQueries}

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Every implemented operator (SURVEY.md §2 + the LLM-pipeline
  * extensions) is registered here as a named query over the driver's
  * parquet tables, with a DuckDB oracle where SQL-expressible.
  */
object SparkEntry {

  /** The full query library. */
  val all: Seq[QueryDef] =
    RefQueries.defs ++ SqlQueries.defs ++ ExtQueries.defs ++ R11Queries.defs ++
      R12Queries.defs ++ R13Queries.defs ++ R14Queries.defs ++ R15Queries.defs ++
      R16Queries.defs

  /** Flagship: the composed multi-sensor synchronization (SURVEY §7.3 —
    * overlap window + uniform grid + as-of nearest + event one-hot),
    * run on sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    queries("y_sync_flagship")(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    all.map(q => q.name -> q.fn).toMap

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops. */
  def oracleSql: Map[String, String] =
    all.flatMap(q => q.oracle.map(q.name -> _)).toMap

  /** `oracleSql` as one JSON object (name -> SQL), restricted to the
    * names `only` keeps so a filtered dump stays self-consistent (the
    * checker treats an oracle with no dump as a failed query). The
    * escape covers backslash, quote and ALL control chars (< 0x20): a
    * tab or CR in an oracle would otherwise make the checker's
    * `json.load` fail and zero the whole correctness gate. */
  def oracleJson(only: Option[Set[String]] = None): String = {
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    oracleSql.filter { case (k, _) => only.forall(_.contains(k)) }
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
  }
}
