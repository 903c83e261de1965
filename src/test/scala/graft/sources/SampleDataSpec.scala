package graft.sources

import scala.util.hashing.MurmurHash3

import graft.GraftSpec
import graft.model.Schemas
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** S1-S3 generators: the weighted event-type draw (`app.py:87-90`), and
  * the rows a seed gives, whatever the execution partitioning. */
class SampleDataSpec extends GraftSpec {

  test("log event types follow the reference weights within 1 point at n = 80,000") {
    val n = 80000L
    val counts = SampleData.log(spark, n = n).groupBy("event_type").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(counts.keySet === Schemas.logEventTypes.toSet)
    for ((t, w) <- Schemas.logEventTypes.zip(Schemas.logEventWeights)) {
      val share = counts(t).toDouble / n
      assert(share === w +- 0.01, s"$t: share $share, weight $w")
    }
  }

  /** Order-sensitive digest of the collected rows. */
  private def digest(df: DataFrame): Int =
    MurmurHash3.orderedHash(df.select(xxhash64(df.columns.map(col).toIndexedSeq: _*))
      .collect().map(_.getLong(0)))

  // digests recorded with the generators executing on their 32
  // generation partitions, before the per-core coalesce
  test("a seed gives the same rows, in order, on at most one execution partition per core") {
    val cores = spark.sparkContext.defaultParallelism
    val pinned = Seq(
      ("camera", SampleData.camera(spark, n = 500), -768816994),
      ("motion", SampleData.motion(spark, n = 500), -1857977416),
      ("log", SampleData.log(spark, n = 500), 1049544629),
      ("camera/1", SampleData.camera(spark, n = 500, partitions = 1), 1502199949),
      ("camera/64", SampleData.camera(spark, n = 500, partitions = 64), 1818043622),
      ("log/1", SampleData.log(spark, n = 500, partitions = 1), 1816950470),
      ("log/64", SampleData.log(spark, n = 500, partitions = 64), -519074910))
    for ((name, df, d) <- pinned) {
      assert(digest(df) === d, name)
      assert(df.rdd.getNumPartitions <= cores, name)
    }
    for (p <- Seq(1, 64)) {
      val mot = SampleData.motion(spark, n = 500, partitions = p)
      assert(mot.count() === 500L, s"motion/$p")
      assert(mot.rdd.getNumPartitions === math.min(p, cores), s"motion/$p")
    }
  }
}
