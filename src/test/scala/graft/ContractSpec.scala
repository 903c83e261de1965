package graft

/** The driver contract's structural invariants — cheap checks that
  * catch registration mistakes before a whole driver round is spent
  * discovering them. */
class ContractSpec extends GraftSpec {

  test("query names are unique (a duplicate silently drops a query from the map)") {
    val names = SparkEntry.all.map(_.name)
    val dups = names.groupBy(identity).filter(_._2.size > 1).keys.toSeq
    assert(dups.isEmpty, s"duplicate query names: ${dups.mkString(", ")}")
    assert(SparkEntry.queries.size === names.size)
  }

  test("every oracle belongs to a registered query") {
    val names = SparkEntry.all.map(_.name).toSet
    val orphaned = SparkEntry.oracleSql.keys.filterNot(names.contains)
    assert(orphaned.isEmpty, s"oracles without queries: ${orphaned.mkString(", ")}")
  }

  test("oracle SQL strings are single statements (no stray semicolons)") {
    // the driver feeds each string to one DuckDB execute(); a trailing
    // or embedded semicolon would break the comparison harness
    val bad = SparkEntry.oracleSql.filter(_._2.contains(";"))
    assert(bad.isEmpty, s"semicolons in: ${bad.keys.mkString(", ")}")
  }

  test("no two oracles are byte-identical (a paste error would grade two ops against one truth)") {
    val dups = SparkEntry.oracleSql.groupBy(_._2).filter(_._2.size > 1)
      .values.map(_.keys.toSeq.sorted.mkString("+")).toSeq
    // same-answer/different-plan twins INTENTIONALLY share one truth:
    // stream twins vs their batch queries, the bucketed q3, the
    // sorted-input quantile variant, and MERGE-upsert == latest-per-
    // user; everything else must be distinct
    val intended = Set(
      "a2_quantiles+a2_quantiles_sorted",
      "q3_bucketed+q3_top_orders",
      "q_latest_per_user+q_merge_upsert")
    val unexpected = dups.filterNot(p => p.contains("q_stream") ||
      intended.contains(p))
    assert(unexpected.isEmpty,
      s"byte-identical oracles outside the stream-twin convention: ${unexpected.mkString("; ")}")
  }

  test("oracle coverage: the no-oracle set is the documented one, nothing silently dropped") {
    val noOracle = SparkEntry.all.map(_.name).toSet -- SparkEntry.oracleSql.keys.toSet
    // every entry here is rows-only BY NATURE (sketches whose exact
    // values are engine-specific, plan-stats, media codecs) — adding a
    // query without an oracle by accident should fail this test
    val documented = Set(
      "a2_quantiles_approx", "corpus_heavy_hitters_approx",
      "q_group_quantiles_approx", "q_distinct_users_approx",
      "k4_size_metrics",
      "text_compression_ratio",
      "mm_audio_features", "mm_audio_silence", "mm_audio_pitch",
      "mm_audio_snr", "mm_image_dhash",
      "mm_image_features",
      "mm_image_neardup", "mm_image_phash", "mm_video_features",
      "mm_video_scenecut")
    val undocumented = noOracle -- documented
    assert(undocumented.isEmpty,
      s"queries with no oracle and no documented reason: ${undocumented.mkString(", ")}")
  }

  test("bench headline subset names resolve to registered queries") {
    // Bench prints a fixed headline map sized for the capture window; a
    // renamed query would silently vanish from the cross-round series
    val missing = Bench.Headline.filterNot(SparkEntry.queries.contains)
    assert(Bench.Headline.size === 27)
    assert(missing.isEmpty, s"headline names not registered: ${missing.mkString(", ")}")
  }

  test("ScaleBench's swept names resolve to registered queries") {
    // an unknown name would throw out of the timed sweep
    val missing = ScaleBench.Queries.filterNot(SparkEntry.queries.contains)
    assert(ScaleBench.Queries.size === 48)
    assert(missing.isEmpty, s"scale names not registered: ${missing.mkString(", ")}")
    // and a main's name argument rejects it before any run
    assert(intercept[IllegalArgumentException](SparkEntry.names("q1_pricing_summary, nope"))
      .getMessage.contains("nope"))
  }

  test("sys.env is read only for the cores, the bench data dir and the warm-up dir") {
    // every other run knob is a constant or a main's argument; an env
    // var nothing in the repo sets is an untested configuration
    val allowed = Set("SPARK_GRAFT_CPUS", "SPARK_GRAFT_SF_DIR", "SPARK_GRAFT_WARM_DIR")
    val read = """(?:sys\.env|System\.getenv)(?:\.(?:get|getOrElse|contains|apply))?\(\s*"([^"]*)"""".r
    def files(d: java.io.File): Seq[java.io.File] =
      Option(d.listFiles()).toSeq.flatten.flatMap(f =>
        if (f.isDirectory) files(f) else Seq(f).filter(_.getName.endsWith(".scala")))
    val srcs = files(new java.io.File("src/main"))
    assert(srcs.exists(_.getName == "Graft.scala"))
    val names = srcs.flatMap { f =>
      val src = new String(java.nio.file.Files.readAllBytes(f.toPath), "UTF-8")
      // a read that is not a literal-name lookup cannot be checked
      val all = "sys\\.env|System\\.getenv".r.findAllMatchIn(src).size
      val lits = read.findAllMatchIn(src).map(m => s"${f.getName}: ${m.group(1)}").toSeq
      if (lits.size == all) lits else lits :+ s"${f.getName}: <non-literal read>"
    }
    val bad = names.filterNot(n => allowed.exists(a => n.endsWith(s": $a")))
    assert(bad.isEmpty, s"env knobs read outside the allowed set:\n${bad.mkString("\n")}")
  }

  test("per-dataset artifacts live in graft.io.Artifacts only") {
    // the store is the one module that knows where an artifact lives
    // (under java.io.tmpdir, by pathKey) and when it can be reused
    def files(d: java.io.File): Seq[java.io.File] =
      Option(d.listFiles()).toSeq.flatten.flatMap(f =>
        if (f.isDirectory) files(f) else Seq(f).filter(_.getName.endsWith(".scala")))
    def read(f: java.io.File) = new String(java.nio.file.Files.readAllBytes(f.toPath), "UTF-8")
    val srcs = files(new java.io.File("src/main"))
    assert(srcs.exists(_.getName == "Artifacts.scala"))
    val outside = for {
      f <- srcs if f.getName != "Artifacts.scala"
      token <- Seq("getProperty(\"java.io.tmpdir\")", "pathKey(") if read(f).contains(token)
    } yield s"${f.getName}: $token"
    assert(outside.isEmpty, s"artifact paths resolved outside Artifacts:\n${outside.mkString("\n")}")
    // a query module memoizes through the store, never a map of its own
    val memos = files(new java.io.File("src/main/scala/graft/queries"))
      .filter(f => read(f).contains("TrieMap")).map(_.getName)
    assert(memos.isEmpty, s"TrieMap memos under queries/: ${memos.mkString(", ")}")
  }
}
