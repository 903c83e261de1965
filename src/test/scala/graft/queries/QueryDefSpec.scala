package graft.queries

import graft.{GraftSpec, SparkEntry}

/** `QueryDef.withConf` is the one way a query scopes a session conf:
  * its restore rules, the queries that use it leaving the session conf
  * as they found it, and a source check that no other code path sets or
  * unsets a session conf (but `Tables`' guarded `nanosAsLong` set on a
  * session `Graft.session` did not build). */
class QueryDefSpec extends GraftSpec {

  private val sfDir = "/root/testdata/sf0.001"
  // set explicitly by Graft.session
  private val present = "spark.sql.shuffle.partitions"
  // registered confs the shared session never sets explicitly
  private val absent = "spark.sql.adaptive.enabled"
  private val absent2 = "spark.sql.streaming.noDataMicroBatches.enabled"

  private def confDiff(before: Map[String, String], after: Map[String, String]) =
    (before.keySet ++ after.keySet).toSeq.sorted
      .filter(k => before.get(k) != after.get(k))
      .map(k => s"$k: ${before.get(k)} -> ${after.get(k)}")

  test("withConf restores values after a normal return and after a throw") {
    val before = spark.conf.getAll
    assert(before.contains(present) && !before.contains(absent))
    val seen = QueryDef.withConf(spark, present -> "3", absent -> "false") {
      (spark.conf.get(present), spark.conf.get(absent))
    }
    assert(seen === (("3", "false")))
    assert(confDiff(before, spark.conf.getAll).isEmpty)
    intercept[IllegalStateException] {
      QueryDef.withConf(spark, present -> "3", absent -> "false") {
        throw new IllegalStateException("body failed")
      }
    }
    assert(confDiff(before, spark.conf.getAll).isEmpty)
  }

  test("withConf unsets a key the session had not set") {
    assert(!spark.conf.getAll.contains(absent2))
    QueryDef.withConf(spark, absent2 -> "false") {
      assert(spark.conf.get(absent2) === "false")
    }
    assert(!spark.conf.getAll.contains(absent2))
    assert(spark.conf.get(absent2) === "true") // the registered default
  }

  test("nested withConf scopes restore in order") {
    val outer = spark.conf.get(present)
    QueryDef.withConf(spark, present -> "5") {
      QueryDef.withConf(spark, present -> "6", absent -> "false") {
        assert(spark.conf.get(present) === "6")
      }
      assert(spark.conf.get(present) === "5")
      assert(!spark.conf.getAll.contains(absent))
    }
    assert(spark.conf.get(present) === outer)
  }

  test("the conf-scoped queries leave the session conf as they found it") {
    def confs = spark.conf.getAll
    Seq("y_sync_flagship", "q_kcore3", "q_graph_modularity", "q_hits",
      "text_textrank_keywords", "q_closeness_centrality", "q_kcore_profile",
      "q_dbscan_grid", "q_binseg_depth2", "emb_mmr_rerank",
      "text_naive_bayes", "q_stream_heavy_hitters").foreach { q =>
      val before = confs
      SparkEntry.queries(q)(spark, sfDir).collect()
      val diff = confDiff(before, confs)
      assert(diff.isEmpty, s"$q changed the session conf: ${diff.mkString("; ")}")
    }
  }

  test("q_hits over empty orders and lineitem returns no rows") {
    val dir = tempDir("hits_empty").toString
    Seq("orders", "lineitem").foreach { t =>
      spark.read.parquet(s"$sfDir/$t.parquet").limit(0)
        .write.parquet(s"$dir/$t.parquet")
    }
    assert(SparkEntry.queries("q_hits")(spark, dir).collect().isEmpty)
  }

  test("no code sets a session conf outside withConf") {
    val callRe = """conf\.(set|unset)\(""".r
    // withConf's own body is the one allowed place: cut it out by brace
    // matching from its opening brace
    def withoutWithConf(src: String): String = {
      val start = src.indexOf("def withConf")
      if (start < 0) src
      else {
        val open = src.indexOf('{', start)
        val depth = src.iterator.drop(open).scanLeft(0) {
          case (d, '{') => d + 1
          case (d, '}') => d - 1
          case (d, _) => d
        }.drop(1)
        src.substring(0, start) + src.substring(open + depth.indexWhere(_ == 0) + 1)
      }
    }
    def files(d: java.io.File): Seq[java.io.File] =
      Option(d.listFiles()).toSeq.flatten.flatMap(f =>
        if (f.isDirectory) files(f) else Seq(f).filter(_.getName.endsWith(".scala")))
    val srcs = files(new java.io.File("src/main"))
    assert(srcs.exists(_.getName == "QueryDef.scala"))
    val hits = srcs.flatMap { f =>
      val src = withoutWithConf(
        new String(java.nio.file.Files.readAllBytes(f.toPath), "UTF-8"))
      callRe.findAllMatchIn(src).map(m => s"${f.getName}: ${m.matched}")
    }
    // Graft.session sets nanosAsLong; Tables sets it, once, only on a
    // session that lacks it (the benchmark harness builds its own)
    val guarded = "Tables.scala: conf.set("
    assert(hits.count(_ == guarded) === 1)
    val src = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get("src/main/scala/graft/sources/Tables.scala")), "UTF-8")
    assert(src.contains(
      "if (!spark.conf.getAll.contains(NanosAsLong)) spark.conf.set(NanosAsLong, \"true\")"))
    val others = hits.filterNot(_ == guarded)
    assert(others.isEmpty,
      s"session conf changed outside QueryDef.withConf:\n${others.mkString("\n")}")
  }
}
