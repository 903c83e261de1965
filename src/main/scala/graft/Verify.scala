package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args.take(2)
    // optional 3rd arg: comma-separated query-name filter (local iteration)
    val only: Option[Set[String]] = args.drop(2).headOption.map(_.split(",").toSet)
    val spark = Graft.session()
    new java.io.File(outDir).mkdirs()
    SparkEntry.queries
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
        if (sys.env.contains("SPARK_GRAFT_DEBUG")) e.printStackTrace()
      }
    }
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), SparkEntry.oracleJson(only))
    spark.stop()
  }
}
