package graft

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** Driver-run benchmark: every SparkEntry query against
  * SPARK_GRAFT_SF_DIR, one JSON line on stdout.
  *
  * {{{
  * sbt "runMain graft.Bench [name,name,...]"
  * }}}
  *
  * Honesty discipline: results are forced through the `noop` sink —
  * a `count()` would let Catalyst prune projections and skip most of
  * the work being measured. A session warm-up runs first so query #1
  * doesn't absorb JVM/codegen startup. Every trial is timed by the
  * `Probe` collector. */
object Bench {

  // Multiple trials per query, median reported: this host's timing
  // variance is extreme (the same bench has measured 36 s and 194 s
  // under identical config), and single-trial numbers have repeatedly
  // shown phantom 5-10× "regressions" that vanish on re-run. The
  // median of 3 is robust to one load spike; min/max spread ships so
  // a reader can see the noise rather than infer it.
  val Trials = 3
  // wall-clock budget for EXTRA trials: multi-trial medians must not
  // push the whole bench past its caller's timeout under host load.
  // Trials are spent ADAPTIVELY: pass 1 runs every query once; pass 2
  // re-trials only queries whose first run reached the re-trial
  // threshold (the sub-threshold majority doesn't need medians — at
  // 0.2 s, scheduling noise dwarfs the plan), slowest first, so the
  // budget lands on exactly the numbers a reader will look at. A
  // query is `short_trialed` only if it WANTED extra trials and the
  // budget ran out before its turn.
  // Sized for ~640 queries: the first pass alone is ~450 s, and
  // round-11's 1200 s budget still left 237 queries single-trialed
  // (one of which published a 10× phantom that an exclusive re-trial
  // measured at 1.0 s) — 2400 re-trials the whole ≥0.5 s tail plus
  // the contamination-escalation pass
  val TrialBudgetSec = 2400.0
  val RetrialMinSec = 0.5

  /** Fixed representative subset — one or two per operator family — so
    * round-over-round comparison has stable keys even as the suite
    * grows. */
  val Headline: Seq[String] = Seq(
    "q1_pricing_summary", "q5_region_revenue", "q3_top_orders",
    "y_sync_flagship", "y5_asof_nearest", "y5_asof_pad", "y7_event_pivot",
    "f4_spike_smooth", "a4_corr_matrix", "a2_quantiles",
    "dedup_exact", "dedup_neardup_minhash", "dedup_neardup_groups",
    "sim_topk_bruteforce", "sim_topk_lsh", "sim_topk_ivf",
    "text_tfidf", "text_pii_scrub", "text_langid",
    "pipe_seq_pack", "pipe_shard_shuffle", "pipe_corpus_mix",
    "q_stream_tumbling", "q_stream_sessionize",
    "io_minmax_skip", "io_compact_small_files", "io_csv_roundtrip")

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    // optional subset (local iteration aid); without it every
    // registered query runs
    val only = args.headOption.map(SparkEntry.names)
    val spark = Graft.session()
    warmUp(spark, sfDir)
    val artifactSec = buildArtifacts(spark, sfDir)
    val fullPath = outPath("bench_full", only)
    val names = only.getOrElse(SparkEntry.queries.keys.toSeq).distinct.sorted
    val (fullJson, line) = run(spark, sfDir, names, artifactSec, fullPath)
    try java.nio.file.Files.writeString(java.nio.file.Paths.get(fullPath), fullJson + "\n")
    catch { case e: Throwable =>
      System.err.println(s"[bench] could not write $fullPath: ${e.getMessage}")
    }
    println(line)
    spark.stop()
  }

  /** The artifact a run writes: `<stem>.json` for an unrestricted run,
    * `<stem>_only_<key>.json` for a name subset, keyed by a hash of its
    * distinct sorted names. A SUBSET run must never clobber the
    * full-suite artifact (subset re-trials have overwritten an
    * uncommitted bench_full.json more than once). */
  def outPath(stem: String, only: Option[Seq[String]]): String = only match {
    case Some(names) =>
      val key = java.security.MessageDigest.getInstance("MD5")
        .digest(names.distinct.sorted.mkString(",").getBytes("UTF-8"))
        .take(4).map("%02x".format(_)).mkString
      s"${stem}_only_$key.json"
    case None => s"$stem.json"
  }

  /** Times `names` through the collector with adaptive trials; returns
    * the full JSON (per-query medians, first-trial jobs and layer
    * metrics, `artifactSec` as `artifact_sec` and its sum as
    * `index_build_sec`) and the compact stdout line that points at
    * `fullPath`. */
  def run(spark: SparkSession, sfDir: String, names: Seq[String],
      artifactSec: Seq[(String, Double)], fullPath: String): (String, String) = {
    val queries = SparkEntry.queries
    val probe = new Probe(spark)
    val benchStart = System.nanoTime()
    def elapsedSec = (System.nanoTime() - benchStart) / 1e9
    var shortTrialed = 0
    val failedSet = mutable.LinkedHashSet.empty[String]
    def one(name: String): Probe.Report = {
      // this query grades its (deliberately memoized) grouping
      // computation — every trial must recompute, not read the cache
      if (name == "dedup_neardup_groups")
        graft.queries.ExtQueries.invalidateNearDupGroups()
      val r = probe.run(name, sfDir, queries(name))
      r.failure.foreach(f =>
        if (failedSet.add(name)) System.err.println(s"[bench] $name failed: $f"))
      r
    }
    // the first trial's report is the query's layer split: it separates
    // "slow because the data work is slow" from "slow because an
    // iterative lineage schedules N driver-side jobs whose fixed floor
    // dominates at toy scale"
    // (kept as JSON: a held plan would pin the query's shuffle files)
    val firstPass = names.map { name =>
      val r = one(name)
      (name, r.wallS, r.jobs, r.json)
    }
    val times = mutable.LinkedHashMap(
      firstPass.map { case (name, t, _, _) => name -> mutable.ArrayBuffer(t) }: _*)
    firstPass.filter(_._2 >= RetrialMinSec).sortBy(-_._2)
      .foreach { case (name, _, _, _) =>
        if (elapsedSec < TrialBudgetSec)
          (2 to Trials).foreach(_ => times(name) += one(name).wallS)
        else shortTrialed += 1
      }
    // Contamination escalation (round-10 lesson: one load-spiked trial
    // published phantom 2-4x per-query "regressions"): a query whose
    // trials disagree by >1.4x gets up to 2 extra trials so the median
    // is taken over 5, and the single worst outlier can be trimmed
    // from the reported min/max band below. Runs slowest-first under
    // the same wall-clock budget as the re-trial pass.
    val contaminatedRatio = 1.4
    times.toSeq.filter { case (_, ts) =>
        ts.size >= 2 && ts.min >= RetrialMinSec &&
          ts.max / ts.min > contaminatedRatio }
      .sortBy(-_._2.max)
      .foreach { case (name, ts) =>
        while (ts.size < 5 && ts.max / ts.min > contaminatedRatio &&
               elapsedSec < TrialBudgetSec)
          ts += one(name).wallS
      }
    probe.close()
    val results = names.map { name =>
      val ts = times(name).sorted
      // with >=4 trials, drop the extreme trial at each end from the
      // published band — the escalation above only adds trials when one
      // was contaminated, and a single spiked run must not define max
      val (lo, hi) =
        if (ts.size >= 4) (ts(1), ts(ts.size - 2)) else (ts.head, ts.last)
      (name, ts(ts.size / 2), lo, hi)
    }
    val qs = results.map { case (k, med, _, _) => "\"" + k + f"\":$med%.3f" }
      .mkString("{", ",", "}")
    val total = results.map(_._2).sum
    val totalMin = results.map(_._3).sum
    val totalMax = results.map(_._4).sum
    // the single noisiest query, as max/min ratio — a machine-readable
    // "how much should you trust one number from this host" signal
    val (noisyName, noisyRatio) = results
      .map { case (k, _, mn, mx) => (k, if (mn > 0) mx / mn else 1.0) }
      .maxByOption(_._2).getOrElse(("", 1.0))
    // a failed query must be machine-distinguishable from a fast one
    val failedJson = failedSet.map("\"" + _ + "\"").mkString("[", ",", "]")

    // The harness that captures this output keeps only the LAST ~2000
    // chars of stdout, and the full per-query map for a 300-query suite
    // is ~8 KB — printing it as the JSON line means the line gets
    // truncated and the whole bench reads as unparseable (this is
    // exactly what happened in earlier rounds). So: full detail goes to
    // a FILE in the working dir, and stdout ends with ONE compact line
    // (guaranteed < ~1900 chars) carrying the totals, failures, a fixed
    // headline subset, the top-slowest tail, and a pointer to the file.
    val jobsJson = firstPass
      .map { case (k, _, jobs, _) => "\"" + k + "\":" + jobs }.mkString("{", ",", "}")
    val layersJson = firstPass
      .map { case (k, _, _, layer) => "\"" + k + "\":" + layer }.mkString("{", ",", "}")
    val indexBuildSec = artifactSec.map(_._2).sum
    val head = f""""metric":"total_median","value":$total%.3f,"unit":"sec","trials":$Trials,"short_trialed":$shortTrialed,"total_min":$totalMin%.3f,"total_max":$totalMax%.3f,"noisiest":"$noisyName","noisiest_maxmin_ratio":$noisyRatio%.2f,"n_queries":${results.size},"index_build_sec":$indexBuildSec%.3f,"failed":$failedJson"""
    val fullJson = s"""{$head,"artifact_sec":${secJson(artifactSec)},"queries":$qs,"jobs":$jobsJson,"layers":$layersJson,"sf":"$sfDir"}"""

    val byName = results.map { case (k, med, _, _) => k -> med }.toMap
    val headline = Headline.filter(byName.contains)
    def entries(names: Seq[String]) =
      names.map(k => "\"" + k + f"\":${byName(k)}%.3f").mkString("{", ",", "}")
    val slowest = results.sortBy(-_._2).take(10).map(_._1)
    def compactLine(nHead: Int): String =
      s"""{$head,"full":"$fullPath","slowest":${entries(slowest)},"queries":${entries(headline.take(nHead))},"sf":"$sfDir"}"""
    // belt-and-braces: if many queries failed, failedJson can bloat the
    // line — shrink the headline map until the line fits the tail window
    var line = compactLine(headline.size)
    var n = headline.size
    while (line.length > 1900 && n > 0) { n -= 1; line = compactLine(n) }
    (fullJson, line)
  }

  /** ONE-TIME index/layout/artifact construction (like CREATE INDEX
    * before a bench): every artifact of `graft.io.Artifacts` the
    * queries read — the bucketed orders/lineitem tables, the
    * hive-partitioned, range-clustered and z-ordered layouts, the ANN
    * indexes and quantizers, the maintained MV state tables, the input
    * fixtures and the stream stages. Building them here means each
    * query times the operation it exists to demonstrate (shuffle-free
    * join, pruned read, ANN search, partial-merge refresh, a stream
    * replay), not offline table maintenance; the returned seconds per
    * artifact label still ship in the JSON so the cost stays
    * machine-readable next to the query times. On-disk artifacts
    * persist, so a second JVM on the same sf dir reuses them and this
    * phase only checks their markers and recomputes the in-memory ones.
    *
    * Each artifact gets its own try: a failure in one must not abort
    * the others, or their build cost silently lands on whichever query
    * first touches them — exactly the attribution skew this phase
    * exists to prevent. A failure names its artifact. */
  def buildArtifacts(spark: SparkSession, sfDir: String): Seq[(String, Double)] =
    (("bucketed", graft.sources.Bucketing.ensureOrderBucketed _) +:
      (graft.queries.ExtQueries.artifacts ++ graft.queries.SqlQueries.artifacts ++
        graft.streaming.StreamingEtl.artifacts))
      .map { case (label, build) =>
        val t0 = System.nanoTime()
        try build(spark, sfDir)
        catch { case e: Throwable =>
          System.err.println(s"[bench] artifact build '$label' at '$sfDir' failed: ${e.getMessage}")
        }
        label -> (System.nanoTime() - t0) / 1e9
      }

  /** `{"label":seconds,…}` of an artifact phase. */
  def secJson(sec: Seq[(String, Double)]): String =
    sec.map { case (k, v) => "\"" + k + f"\":$v%.3f" }.mkString("{", ",", "}")

  /** Session warm-up: JVM + codegen + parquet footer reads, so query #1
    * doesn't absorb startup; `names` run once each. The grid-kernel query warms the as-of
    * codegen paths too — otherwise the first y5_* run absorbs
    * whole-stage-codegen compile cost and reads as a plan regression in
    * the per-query numbers. q_stream_tumbling warms the WHOLE
    * micro-batch machinery (offset log, state store provider, streaming
    * codegen) once, the way the batch queries get their one-time costs
    * here — otherwise the first q_stream_* in alphabetical order
    * absorbs it. */
  def warmUp(spark: SparkSession, sfDir: String, names: Seq[String] =
      Seq("q1_pricing_summary", "y5_asof_nearest", "q_stream_tumbling")): Unit = {
    spark.range(0, 1000000, 1, 4).selectExpr("sum(id)").collect()
    names.foreach(w =>
      SparkEntry.queries.get(w).foreach { fn =>
        try fn(spark, sfDir).write.mode("overwrite").format("noop").save()
        catch { case e: Throwable =>
          System.err.println(s"[bench] warmup $w failed: ${e.getMessage}")
        }
      })
  }
}
