package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Bucketed-table support: pre-shuffling a fact table once by its join
  * key so every later join on that key is co-located — no exchange on
  * either side. This is the batch analogue of an index: pay one write,
  * join shuffle-free forever after. At 100 TB the orders↔lineitem join
  * is THE recurring shuffle; bucketing both sides by the order key
  * removes it from every query that follows.
  *
  * The bucketed files are one `Artifacts` directory per sf dir, built
  * once and reused across JVMs. The bucketing metadata lives in the
  * session catalog (that is what lets the planner elide the
  * exchanges), so each table is registered as an external table over
  * its directory when the catalog does not know it yet. */
object Bucketing {

  val NumBuckets = 8

  private val Keys = Seq("orders" -> "o_orderkey", "lineitem" -> "l_orderkey")

  /** Catalog name of the bucketed table stored at `loc`: derived from
    * the location, so a name the catalog knows always points there. */
  private def tableName(table: String, loc: String): String =
    s"graft_${table}_b" + java.util.UUID.nameUUIDFromBytes(
      loc.getBytes(java.nio.charset.StandardCharsets.UTF_8)).toString.replace("-", "")

  /** Ensure bucketed twins of orders/lineitem exist for `dir`; returns
    * (ordersTable, lineitemTable) catalog names. */
  def ensureOrderBucketed(spark: SparkSession, dir: String): (String, String) = {
    val base = graft.io.Artifacts.dir(dir, "bucketed", "v1", NumBuckets) { base =>
      Keys.foreach { case (t, k) =>
        Tables.load(spark, dir, t)
          .write.mode("overwrite")
          .bucketBy(NumBuckets, k).sortBy(k)
          .option("path", s"$base/$t")
          .format("parquet").saveAsTable(tableName(t, s"$base/$t"))
      }
    }
    val Seq(o, l) = Keys.map { case (t, k) =>
      val tbl = tableName(t, s"$base/$t")
      if (!spark.catalog.tableExists(tbl))
        spark.sql(s"CREATE TABLE $tbl (${spark.read.parquet(s"$base/$t").schema.toDDL}) " +
          s"USING parquet CLUSTERED BY ($k) SORTED BY ($k) INTO $NumBuckets BUCKETS " +
          s"LOCATION '$base/$t'")
      tbl
    }
    (o, l)
  }

  def ordersBucketed(spark: SparkSession, dir: String): DataFrame =
    spark.table(ensureOrderBucketed(spark, dir)._1)

  def lineitemBucketed(spark: SparkSession, dir: String): DataFrame =
    spark.table(ensureOrderBucketed(spark, dir)._2)
}
