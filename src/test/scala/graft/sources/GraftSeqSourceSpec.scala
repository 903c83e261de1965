package graft.sources

import graft.GraftSpec
import org.apache.spark.sql.functions._

/** DSv2 source laws: shard-parallel planning, byte-exact round-trip,
  * and deterministic shard bytes. */
class GraftSeqSourceSpec extends GraftSpec {

  private def tmp() = tempDir("graft_gseq_spec").toString

  test("round-trip preserves every record; scan plans one partition per shard") {
    import spark.implicits._
    val df = (0L until 1000L).map(i => (i, s"doc $i body " + ("x" * (i % 50).toInt)))
      .toDF("doc_id", "text")
    val dir = tmp()
    GraftSeqSource.writeShards(df, dir, nShards = 8)
    assert(new java.io.File(dir).listFiles().count(_.getName.endsWith(".gseq")) == 8)

    val back = GraftSeqSource.read(spark, dir)
    assert(back.rdd.getNumPartitions == 8,
      "DSv2 scan must plan one InputPartition per shard file")
    val a = df.orderBy("doc_id").collect().map(r => (r.getLong(0), r.getString(1)))
    val b = back.orderBy("doc_id").collect().map(r => (r.getLong(0), r.getString(1)))
    assert(a.toSeq == b.toSeq)
  }

  test("shard bytes are reproducible across writes") {
    import spark.implicits._
    val df = (0L until 200L).map(i => (i, s"t$i")).toDF("doc_id", "text")
    val d1 = tmp(); val d2 = tmp()
    GraftSeqSource.writeShards(df, d1, 4)
    GraftSeqSource.writeShards(df.repartition(7), d2, 4)
    for (k <- 0 until 4) {
      val f1 = java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get(d1, f"shard_$k%05d.gseq"))
      val f2 = java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get(d2, f"shard_$k%05d.gseq"))
      assert(java.util.Arrays.equals(f1, f2),
        s"shard $k bytes must not depend on input partitioning")
    }
  }

  test("unicode text survives the byte round-trip") {
    import spark.implicits._
    val df = Seq((1L, "héllo wörld — ünïcode ✓"), (2L, "日本語テキスト"))
      .toDF("doc_id", "text")
    val dir = tmp()
    GraftSeqSource.writeShards(df, dir, 2)
    val back = GraftSeqSource.read(spark, dir).orderBy("doc_id")
      .collect().map(_.getString(1))
    assert(back.toSeq == Seq("héllo wörld — ünïcode ✓", "日本語テキスト"))
  }

  test("column pruning reaches the scan; id-equality prunes to one shard") {
    import spark.implicits._
    val df = (0L until 400L).map(i => (i, s"body $i")).toDF("doc_id", "text")
    val dir = tmp()
    GraftSeqSource.writeShards(df, dir, 8)
    val src = GraftSeqSource.read(spark, dir)

    // pruning law: the scan's read schema drops text
    val prunedPlan = src.select("doc_id").queryExecution.executedPlan.toString
    assert(!prunedPlan.contains("text"),
      s"text must be pruned out of the scan:\n$prunedPlan")
    assert(src.select("doc_id").agg(org.apache.spark.sql.functions.sum("doc_id"))
      .head().getLong(0) == (0L until 400L).sum)

    // shard pruning law: doc_id = 13 plans exactly ONE partition
    val one = src.filter($"doc_id" === 13L)
    assert(one.rdd.getNumPartitions == 1,
      "id-equality must prune the scan to the single owning shard")
    assert(one.collect().map(_.getLong(0)).toSeq == Seq(13L))
    // and a non-equality predicate still sees every shard
    assert(src.filter($"doc_id" > 100L).rdd.getNumPartitions == 8)
  }

  test("pruning is manifest-gated: empty shards and DSv2 layouts stay correct") {
    import spark.implicits._
    // writeShards with holes: ids land only in shards 0 and 2 of 8 —
    // the file count (2) disagrees with the contract nShards (8). A
    // file-count-derived mod would send doc_id=2 to shard_00000 and
    // lose the row; the manifest records the true nShards.
    val sparse = Seq((0L, "a"), (2L, "b"), (10L, "c")).toDF("doc_id", "text")
    val d1 = tmp()
    GraftSeqSource.writeShards(sparse, d1, nShards = 8)
    assert(new java.io.File(d1).listFiles().count(_.getName.endsWith(".gseq")) == 2)
    val s1 = GraftSeqSource.read(spark, d1)
    assert(s1.filter($"doc_id" === 2L).collect().map(_.getString(1)).toSeq == Seq("b"))
    // a probe into a genuinely empty shard returns no rows (and plans
    // zero partitions — the manifest proves the shard cannot exist)
    assert(s1.filter($"doc_id" === 5L).count() == 0L)

    // DSv2 write shards by partitionId, NOT doc_id mod: no manifest,
    // so an id-equality must scan every shard rather than mis-prune
    val d2 = tmp()
    (0L until 100L).map(i => (i, s"v$i")).toDF("doc_id", "text")
      .repartition(4).write.format("graft.sources.GraftSeqSource")
      .mode("overwrite").save(d2)
    val s2 = GraftSeqSource.read(spark, d2)
    val probe = s2.filter($"doc_id" === 37L)
    assert(probe.rdd.getNumPartitions == 4,
      "without a placement manifest the scan must keep all shards")
    assert(probe.collect().map(_.getString(1)).toSeq == Seq("v37"))

    // DSv2 write into a writeShards dir must invalidate the stale manifest
    (0L until 100L).map(i => (i, s"v$i")).toDF("doc_id", "text")
      .repartition(4).write.format("graft.sources.GraftSeqSource")
      .mode("overwrite").save(d1)
    assert(GraftSeqSource.read(spark, d1).filter($"doc_id" === 37L)
      .collect().map(_.getString(1)).toSeq == Seq("v37"))
  }

  test("truncated shard fails loudly even on the payload-skip path") {
    import spark.implicits._
    val dir = tmp()
    (0L until 50L).map(i => (i, "x" * 100)).toDF("doc_id", "text")
      .coalesce(1).write.format("graft.sources.GraftSeqSource")
      .mode("overwrite").save(dir)
    val f = new java.io.File(dir).listFiles()
      .filter(_.getName.endsWith(".gseq")).head
    // chop mid-payload: header of the last record survives, body doesn't
    val ch = new java.io.RandomAccessFile(f, "rw")
    ch.setLength(f.length() - 40); ch.close()
    val pruned = GraftSeqSource.read(spark, dir).select("doc_id")
    val ex = intercept[Exception] { pruned.count() }
    def causes(t: Throwable): Seq[Throwable] =
      if (t == null) Nil else t +: causes(t.getCause)
    assert(causes(ex).exists(_.isInstanceOf[java.io.EOFException]),
      s"payload-skip over a truncated shard must raise EOF, got $ex")
  }

  test("DSv2 write path: staged-then-committed shards, truncate mode, clean staging") {
    import spark.implicits._
    val dir = tmp()
    val df = (0L until 300L).map(i => (i, s"w$i")).toDF("doc_id", "text")
    df.repartition(4).write.format("graft.sources.GraftSeqSource")
      .mode("overwrite").save(dir)
    val files = new java.io.File(dir).listFiles().filter(_.getName.endsWith(".gseq"))
    assert(files.length == 4, "one committed shard per input partition")
    // no staged leftovers after the job-level commit
    val stagedLeft = Option(new java.io.File(dir, ".staged").listFiles())
      .getOrElse(Array.empty)
    assert(stagedLeft.isEmpty, "staging must be drained by commit")
    val back = GraftSeqSource.read(spark, dir)
    assert(back.count() == 300L)
    assert(back.agg(org.apache.spark.sql.functions.sum("doc_id")).head().getLong(0)
      == (0L until 300L).sum)
    // overwrite (truncate) replaces, never accumulates
    df.limit(10).repartition(1).write.format("graft.sources.GraftSeqSource")
      .mode("overwrite").save(dir)
    assert(GraftSeqSource.read(spark, dir).count() == 10L)
  }

  test("COUNT(*) pushes down to a manifest-only scan; value exact") {
    import spark.implicits._
    val df = (0L until 777L).map(i => (i, s"body $i")).toDF("doc_id", "text")
    val dir = tmp()
    GraftSeqSource.writeShards(df, dir, nShards = 4)
    val cnt = GraftSeqSource.read(spark, dir).groupBy().count()
    val plan = cnt.queryExecution.executedPlan.toString
    assert(plan.contains("GraftSeqCountScan"),
      s"global count must plan the metadata-only scan:\n$plan")
    assert(cnt.collect()(0).getLong(0) == 777L)
  }

  test("count pushdown declines without manifest counts or under a filter") {
    import spark.implicits._
    val df = (0L until 100L).map(i => (i, s"b$i")).toDF("doc_id", "text")
    val dir = tmp()
    GraftSeqSource.writeShards(df, dir, nShards = 2)
    // filtered count must take the real scan (the filter is residual,
    // so pushing the aggregate would be WRONG — Spark also refuses)
    val filtered = GraftSeqSource.read(spark, dir)
      .filter(col("doc_id") === 7L).groupBy().count()
    assert(!filtered.queryExecution.executedPlan.toString
      .contains("GraftSeqCountScan"))
    assert(filtered.collect()(0).getLong(0) == 1L)
    // a legacy manifest (no rowCounts key) declines the pushdown but
    // the count stays exact through the normal scan
    GraftSeqSource.writeManifest(dir, 2, rowCounts = None)
    val legacy = GraftSeqSource.read(spark, dir).groupBy().count()
    assert(!legacy.queryExecution.executedPlan.toString
      .contains("GraftSeqCountScan"))
    assert(legacy.collect()(0).getLong(0) == 100L)
  }

  test("DSv2-written dirs decline count pushdown (no placement manifest)") {
    import spark.implicits._
    val df = (0L until 50L).map(i => (i, s"z$i")).toDF("doc_id", "text")
    val dir = tmp()
    df.repartition(2).write.format("graft.sources.GraftSeqSource")
      .mode("overwrite").save(dir)
    val cnt = GraftSeqSource.read(spark, dir).groupBy().count()
    assert(!cnt.queryExecution.executedPlan.toString
      .contains("GraftSeqCountScan"))
    assert(cnt.collect()(0).getLong(0) == 50L)
  }
}
