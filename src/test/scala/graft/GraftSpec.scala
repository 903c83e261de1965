package graft

import java.nio.file.{Files, Path}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for all suites (sbt runs forked suites
  * sequentially, so one session is safe and saves ~5 s per suite). */
object GraftSpark {
  lazy val spark: SparkSession = Graft.session(cpus = 4)
}

abstract class GraftSpec extends AnyFunSuite with org.scalatest.BeforeAndAfterAll
    with org.scalactic.Tolerance {
  lazy val spark: SparkSession = GraftSpark.spark

  private val tempDirs = new java.util.concurrent.ConcurrentLinkedQueue[Path]()

  /** A fresh directory under the temp dir, deleted with its contents
    * after the suite. A fixture dataset must live in one: the artifact
    * store collects what was built on a dataset only once that
    * dataset's directory is gone. */
  def tempDir(prefix: String): Path = {
    val d = Files.createTempDirectory(prefix)
    tempDirs.add(d)
    d
  }

  /** Runs `body` with `java.io.tmpdir`, and with it the artifact
    * store, in a fresh temp dir. */
  def withTmpdir[T](body: java.io.File => T): T = {
    val old = System.getProperty("java.io.tmpdir")
    val dir = tempDir("graft-tmpdir").toFile
    System.setProperty("java.io.tmpdir", dir.getPath)
    try body(dir) finally System.setProperty("java.io.tmpdir", old)
  }

  override def afterAll(): Unit =
    try tempDirs.forEach { d =>
      if (Files.exists(d)) {
        val s = Files.walk(d)
        try s.sorted(java.util.Comparator.reverseOrder()).forEach(p => Files.deleteIfExists(p))
        finally s.close()
      }
    } finally super.afterAll()

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
