package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for all suites (sbt runs forked suites
  * sequentially, so one session is safe and saves ~5 s per suite). */
object GraftSpark {
  lazy val spark: SparkSession = Graft.session(cpus = 4)
}

abstract class GraftSpec extends AnyFunSuite with org.scalactic.Tolerance {
  lazy val spark: SparkSession = GraftSpark.spark

  /** One-column-per-entry timestamp helper: micros → TimestampType. */
  def tsDf(name: String, micros: Seq[Long], extra: Seq[(String, Seq[Double])] = Nil): DataFrame = {
    import spark.implicits._
    val base = micros.zipWithIndex.map { case (us, i) => (us, i) }.toDF("__us", "__i")
    val withTs = base.select(timestamp_micros(col("__us")).as(name), col("__i"))
    extra.foldLeft(withTs) { case (df, (c, vals)) =>
      val lookup = typedLit(vals.zipWithIndex.map { case (v, i) => (i, v) }.toMap)
      df.withColumn(c, lookup(col("__i")))
    }.drop("__i")
  }
}
