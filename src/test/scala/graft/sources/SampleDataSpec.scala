package graft.sources

import graft.GraftSpec
import graft.model.Schemas
import org.apache.spark.sql.functions._

/** S3 generator rates: the weighted event-type draw (`app.py:87-90`). */
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
}
