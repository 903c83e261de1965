package graft

/** Local replica of the driver's smoke check: SparkEntry.entry must
  * return >0 rows on sf0.001. */
object EntrySmoke {
  def main(args: Array[String]): Unit = {
    val spark = Graft.session(cpus = 4)
    val df = SparkEntry.entry(spark)
    println("ENTRY_SCHEMA=" + df.schema.map(_.name).mkString(","))
    println("ENTRY_ROWS=" + df.count())
    spark.stop()
  }
}
