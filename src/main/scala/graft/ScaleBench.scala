package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Scale rehearsal: runs the three heaviest pipeline queries at 1× and
  * at a synthesized 10× of the same data, and reports the wall-time
  * ratio — direct evidence for the "would this hold at a bigger SF"
  * claims, beyond plan inspection. Near-linear (≈10×) scaling means no
  * quadratic candidate blow-up, no single-partition serialization, no
  * driver-side collect growing with the data.
  *
  * The 10× corpus is replicated honestly: event replicas get disjoint
  * event/user id ranges (same time span — density grows, the realistic
  * scale-up); document replicas prefix a replica tag onto EVERY token,
  * so no cross-replica near-duplicates are fabricated and the dedup
  * workload's pair structure scales ~linearly like a real corpus.
  *
  * Output: one JSON line on stdout, and BENCH_r07_scale.json in cwd.
  */
object ScaleBench {

  private val Queries = Seq("y_sync_flagship", "y_sync_flagship_interp",
    "dedup_neardup_groups",
    "pipe_seq_pack", "sim_topk_lsh", "corpus_ngram_topk", "q_sessionize",
    // the sketch should scale FLAT in state (O(k) partials): at 10×
    // its time must grow at most with scan cost, proving the exact
    // top-k's distinct-term blowup is really gone
    "corpus_heavy_hitters_approx",
    // HLL registers are a 256-group map-side max — the sketch side
    // must scale with scan cost only (the exact-distinct audit that
    // rides along is the shuffle-bound part)
    "corpus_hll_distinct",
    // per-row kernel + broadcast dictionary joins — near-linear is
    // the pass bar for the newest text analytics
    "text_oov_rate",
    // keyed as-of: the (key, bucket) shuffle + digest-carry design
    // must hold as BOTH density and key count grow 10×
    "q_asof_keyed",
    // tall-skinny Gram build: the pair fan-out is per-row-bounded
    // (16 dims), so 10× rows must be ≈10× time, not 100×
    "emb_covariance",
    // rolling distinct: the explode-to-report-days fan-out is the
    // whole point — bounded ×7 whatever the history length
    "q_rolling_distinct_users",
    // sweep-line coverage: day-partitioned windows must parallelize
    // as density (not day count) grows
    "q_interval_coverage",
    // MMR: candidate pools stay poolK-bounded per query; only the
    // relevance scan grows with the corpus
    "emb_mmr_rerank",
    // Allan variance: 5 fixed series whose per-series windows grow
    // 10× — the honest worst case for window parallelism (partition
    // count stays 5; time may grow ~linearly but must not blow up)
    "q_allan_variance",
    // entropy rate: per-user lag + 25-cell digest — user count grows
    // 10×, so the window partitioning itself must carry the scale-up
    "q_entropy_rate",
    // non-associative capped-balance recurrence via prefix-min: two
    // stacked windows, must stay one shuffle as density grows
    "q_capped_running_balance",
    // winnowing: per-doc lag/lead windows — doc count grows 10×, the
    // doc_id partitioning must carry it
    "text_winnowing",
    // bloom pre-filter: the set-bit digest is BOUNDED (≤m rows), so
    // 10× docs must cost ~scan, not ~state
    "pipe_bloom_dedup_prefilter",
    // quantizer-artifact consumer: assignments join a 16-row
    // broadcast. First touch at each scale also pays the one-time
    // deterministic k-means fit (memoized per dir), so the ratio
    // honestly covers the artifact BUILD scaling too
    "emb_kmeans_inertia",
    // exact substring dedup: the replica token-prefix makes shingles
    // replica-unique, so the repeat structure (and the positional
    // join's selectivity) scales like a real corpus — the shingle
    // hash-aggregate must carry the 10×, no all-pairs creep
    "text_substring_dedup",
    // KN scoring: the bigram digest grows with the (tagged) vocab —
    // the four statistics all ride the ONE digest, so 10× docs must
    // cost ~tokenize+digest, not digest²
    "text_kneser_ney",
    // two-stage binary retrieval: the Hamming scan grows linearly,
    // the rerank stays 32-vectors-per-query whatever the corpus
    "sim_topk_binary",
    // LTTB: the bucket digest is calendar-bounded; only the per-bucket
    // argmax scan grows with density
    "q_lttb_downsample",
    // KMV rolling distinct: the sketch union is BOUNDED (64/day·7) —
    // 10× users must cost ~the per-day distinct pass, never the union
    "q_rolling_distinct_approx",
    // RP-tree: medians are aggregates, leaves are n/8 — candidate
    // rerank grows linearly with the corpus, balanced by construction
    "sim_topk_rptree",
    // Gram-aggregate CKA: ONE fixed-size buffer per partial — CPU must
    // grow ~linearly, shuffle bytes must not grow at all
    "emb_cka_halves",
    // TextRank: the co-occurrence edge aggregate (60-bit hash keys)
    // is the only data-sized stage; the 3 PageRank rounds ride the
    // vocabulary digest, so 10× docs must cost ~tokenize+edge-agg
    "text_textrank_keywords",
    // kernel two-sample MMD: per-row 136-pair fan-out consumed by the
    // map-side partial — 10× vectors must be ≈10× CPU, flat shuffle
    "emb_mmd_poly",
    // PAVA calibration: one user-partitioned window pass + a ≤20-row
    // bin digest — the O(B³) fit must NOT grow with data at all
    "q_isotonic_calibration",
    // LZ78: per-doc 240-char-bounded sequential fold — embarrassingly
    // parallel scan work, the fold cap must keep 10× docs ≈10× time
    "q_lz78_complexity",
    // Lomb–Scargle: TWO map-side-combined trig passes keyed by 7
    // periods — 10× events must be ≈10× CPU with flat shuffle (the
    // per-period state is 4 decimal sums)
    "q_lomb_scargle",
    // dup-profile: the ×4 n-gram size fan-out shuffles only 60-bit
    // hashes; 10× docs ⇒ ≈10× instances, dup counts ride the same
    // (n, hash) exchange
    "text_dup_ngram_profile",
    // per-user first-seen reduction + calendar quadratic fit — the
    // user-digest shuffle carries the 10× (density grows, days fixed)
    "q_bass_diffusion",
    // grid Ripley K: facts collapse to the span-bounded second digest,
    // then ONE ordered RANGE-frame window — 10× density must cost
    // ~the groupBy scan; the window itself is O(span), flat
    "q_ripley_k_grid",
    // visibility graph: the n³/6 sight-line checks ride the CALENDAR
    // digest (days fixed as density grows) — near-FLAT is the bar
    "q_visibility_graph",
    // Gi* hotspots: one fact-sized aggregate → a generated 168-cell
    // lattice; everything after the scan is constant-size
    "q_getis_ord",
    // iterative graph kernels (r12): the scaled lineitem offsets BOTH
    // orderkey and partkey, so the co-purchase graph is 10 disjoint
    // copies — edge count exactly 10×, same per-component structure.
    // k-core peel rounds and the Katz iteration are edge-linear per
    // round, so cpu_ratio ≈ 10 is the bar; closeness BFS seeds stay
    // 5 (top-degree picks land in one replica), so its frontier work
    // is flat and only the per-round eb scans carry the 10×
    "q_kcore_profile", "q_closeness_centrality", "q_katz_centrality",
    // r13 additions — the new evaluation family's facts-scale
    // representatives: the recommender eval (two fact passes + a
    // per-customer digest; user count grows with density) and the
    // KL/JS drift monitor (one fact pass -> fixed 168-cell lattice,
    // must scale ~flat after the scan)
    "q_rec_eval", "q_kl_js_drift",
    // r15: the streaming family joins the sweep — state-store
    // boundedness at scale was asserted (watermark math), never
    // measured. Density grows 10× over the same span, so state that
    // is O(keys-in-watermark-horizon) may grow up to 10× with the
    // data; what must NOT happen is state proportional to the whole
    // history. peak_state_rows ships per scale so the bound is a
    // published measurement. Wall ratios here carry the fixed
    // micro-batch floor at 1× (AvailableNow scheduling, state-store
    // load/commit), so the cpu_ratio column is the honest signal.
    "q_stream_sessionize", "q_stream_join", "q_stream_dedup",
    "q_stream_recover", "q_stream_asof")

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val reps = sys.env.getOrElse("SPARK_GRAFT_SCALE_REPS", "10").toInt
    val spark = Graft.session()

    val scaled = ensureScaledDir(spark, sfDir, reps)

    // SPARK_GRAFT_SCALE_ONLY=a,b,c: local iteration aid (the driver
    // never sets it) — sweep just the named queries
    val only = sys.env.get("SPARK_GRAFT_SCALE_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    val swept = Queries.filter(q => only.forall(_.contains(q)))

    // warm up every query SHAPE at the smallest SF (a different dir:
    // per-dir memoization stays cold for the timed scales, but
    // whole-stage codegen compiles once here instead of inflating the
    // first timed run)
    spark.range(0, 1000000, 1, 4).selectExpr("sum(id)").collect()
    val warmDir = sys.env.getOrElse("SPARK_GRAFT_WARM_DIR", "/root/testdata/sf0.01")
    swept.foreach { q =>
      try SparkEntry.queries(q)(spark, warmDir)
        .write.mode("overwrite").format("noop").save()
      catch { case e: Throwable =>
        System.err.println(s"[scale] warmup $q failed: ${e.getMessage}")
      }
    }

    // one-time offline artifacts (quantizers, zone maps, RP-tree
    // thresholds, the minhash truth set) built OUTSIDE the timed
    // region at BOTH scales, like Bench's index-build phase — letting
    // a query's first touch pay the build misattributes artifact
    // construction as query superlinearity (sim_topk_rptree measured
    // 33× CPU at 10× when its threshold fit billed to the query; the
    // prewarmed query itself is ~0.6 s). The build cost still ships
    // per scale so artifact SCALING stays visible.
    def buildArtifacts(dir: String): Double = {
      val t0 = System.nanoTime()
      // per-artifact try: the scaled dir holds only events/documents/
      // embeddings, so the TPC-H-table artifacts (bucketed orders,
      // lineitem MVs) fail there — that must not abort the builds the
      // swept queries actually need (quantizers, RP thresholds, truth
      // set), or their cost lands back on first query touch
      Seq[(String, () => Unit)](
        "bucketed-orders" -> (() => graft.sources.Bucketing.ensureOrderBucketed(spark, dir)),
        "ext-artifacts" -> (() => graft.queries.ExtQueries.prewarmArtifacts(spark, dir)),
        "sql-artifacts" -> (() => graft.queries.SqlQueries.prewarmArtifacts(spark, dir)),
        // streaming scenarios stage their input (sentinel-tagged
        // single-file copies) into a memoized scratch dir on first
        // touch — a coalesce(1) write that is serial BY DESIGN. Warm
        // each swept stream query once per dir so the timed run
        // measures the streaming operator, not the one-off staging
        // (each timed run still replays the full stream from a fresh
        // checkpoint — only file staging and codegen are warm).
        "stream-stages" -> (() => swept.filter(_.startsWith("q_stream_"))
          .foreach { q =>
            SparkEntry.queries(q)(spark, dir)
              .write.mode("overwrite").format("noop").save()
          })
      ).foreach { case (label, build) =>
        try build()
        catch { case e: Throwable =>
          System.err.println(s"[scale] artifact '$label' at '$dir' failed: ${e.getMessage}")
        }
      }
      (System.nanoTime() - t0) / 1e9
    }
    val artifact1x = buildArtifacts(sfDir)
    val artifact10x = buildArtifacts(scaled)

    // Executor CPU accounting: wall-clock ratios conflate work growth
    // with machine utilization — a sub-second 1× run UNDERFILLS 32
    // cores, so a query whose work honestly grows 10× can land
    // anywhere in wall ratio 1–10 depending only on scheduling slack.
    // The superlinearity detector is the CPU-TIME ratio: total
    // executor CPU ns at 10× over 1× ≈ 10 for linear work; >> 10
    // means real state growth (quadratic candidates, digest blow-up).
    val cpuNs = new java.util.concurrent.atomic.AtomicLong(0L)
    // per-stage task-duration telemetry: the wall-ratio bar can fail
    // with LINEAR cpu_ratio when one stage stops spreading (too few
    // partitions, or a straggler task owning a hot key) — the fix is
    // different from an algorithmic blow-up, so the sweep must show
    // tasks-per-stage and max-vs-median task time per query
    val stageDur = new java.util.concurrent.ConcurrentHashMap[
      Int, java.util.concurrent.ConcurrentLinkedQueue[Long]]()
    val stageName = new java.util.concurrent.ConcurrentHashMap[Int, String]()
    spark.sparkContext.addSparkListener(
      new org.apache.spark.scheduler.SparkListener {
        override def onTaskEnd(
            e: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit = {
          if (e.taskMetrics != null)
            cpuNs.addAndGet(e.taskMetrics.executorCpuTime)
          if (e.taskInfo != null) {
            stageDur.computeIfAbsent(e.stageId,
                _ => new java.util.concurrent.ConcurrentLinkedQueue[Long]())
              .add(e.taskInfo.duration)
            ()
          }
        }
        override def onStageCompleted(
            e: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit = {
          stageName.put(e.stageInfo.stageId,
            e.stageInfo.name.takeWhile(_ != '\n').take(60))
          ()
        }
      })
    // peak state-store rows across a streaming query's progress events
    // (sum over state operators, max over batches) — the boundedness
    // measurement for the q_stream_* sweep rows; 0 for batch queries
    val peakStateRows = new java.util.concurrent.atomic.AtomicLong(0L)
    spark.streams.addListener(
      new org.apache.spark.sql.streaming.StreamingQueryListener {
        import org.apache.spark.sql.streaming.StreamingQueryListener._
        override def onQueryStarted(e: QueryStartedEvent): Unit = ()
        override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
        override def onQueryProgress(e: QueryProgressEvent): Unit = {
          val n = e.progress.stateOperators.map(_.numRowsTotal).sum
          peakStateRows.updateAndGet(m => math.max(m, n))
          ()
        }
      })
    /** top-`k` stages by summed task time among stages first seen
      * after `sinceIds`, rendered as compact JSON objects. */
    def hotStages(sinceIds: Set[Int], k: Int = 3): String = {
      import scala.jdk.CollectionConverters._
      val fresh = stageDur.keySet().asScala.toSet -- sinceIds
      val all = fresh.toSeq.map { sid =>
        val ds = stageDur.get(sid).asScala.toSeq.sorted
        (sid, ds.length, ds.sum, ds.last, ds(ds.length / 2))
      }
      val rows = all.sortBy(-_._3).take(k)
      val top = rows.map { case (sid, n, sum, mx, med) =>
        // keep the hand-built JSON valid for ANY stage name: printable
        // ASCII only, with the two JSON-structural chars dropped
        val nm = Option(stageName.get(sid)).getOrElse("?")
          .filter(c => c >= ' ' && c <= '~' && c != '"' && c != '\\')
        f"""{"stage":$sid,"name":"$nm","tasks":$n,"sum_ms":$sum,"max_ms":$mx,"med_ms":$med,"skew":${mx.toDouble / math.max(med, 1L)}%.1f}"""
      }.mkString("[", ",", "]")
      // stage-count + total-task-time context: a wall >> sum(top)/cores
      // with MANY small stages is a sequential-barrier chain, not a
      // straggler — a different fix
      f"""{"n_stages":${all.size},"sum_all_ms":${all.map(_._3).sum},"top":$top}"""
    }

    // first-trial timing: dedup_neardup_groups memoizes its grouping
    // per (session, dir), so a min-of-N would time a cache read from
    // trial 2 on — the first trial is the honest cost at each scale
    def timeOnce(name: String, dir: String): (Double, Double, String, Long) = {
      import scala.jdk.CollectionConverters._
      // settle any in-flight events (warm-up, artifact builds) before
      // snapshotting, so the delta is exactly this query's tasks
      org.apache.spark.GraftListenerDrain.drain(spark.sparkContext)
      val stages0 = stageDur.keySet().asScala.toSet
      peakStateRows.set(0L)
      val t0 = System.nanoTime()
      val c0 = cpuNs.get()
      // name the stages after the swept query: the RDD call site is
      // captured from the submitting thread's local properties (AQE
      // futures inherit them via withThreadLocalCaptured), so without
      // this every hot_stages entry reads `$anonfun$...` — telemetry
      // that cannot name its own offender. Restored after the run so
      // artifact builds/warmups stay distinguishable.
      spark.sparkContext.setCallSite(name)
      try SparkEntry.queries(name)(spark, dir)
        .write.mode("overwrite").format("noop").save()
      finally spark.sparkContext.clearCallSite()
      val wall = (System.nanoTime() - t0) / 1e9
      // drain the listener bus COMPLETELY before reading the counter:
      // a fixed sleep leaks short queries' tail TaskEnd events into
      // the next query's delta, systematically inflating the cpu_ratio
      // of every sub-second 1x run
      org.apache.spark.GraftListenerDrain.drain(spark.sparkContext)
      (wall, (cpuNs.get() - c0) / 1e9, hotStages(stages0), peakStateRows.get())
    }

    val results = swept.map { q =>
      val (t1, c1, _, st1) = timeOnce(q, sfDir)
      val (t10, c10, hot10, st10) = timeOnce(q, scaled)
      (q, t1, t10, c1, c10, hot10, st1, st10)
    }

    // ANN candidate telemetry (outside the timed region): mean
    // candidates examined per query vector at each scale. The
    // adaptive-parameter claim is "candidates ~constant by
    // construction" — this makes it a published measurement.
    def cands(dir: String): (Double, Double) =
      try graft.queries.ExtQueries.annCandidateCounts(spark, dir)
      catch { case e: Throwable =>
        System.err.println(s"[scale] candidate telemetry at '$dir' failed: ${e.getMessage}")
        (-1.0, -1.0)
      }
    val (lshC1, rpC1) = cands(sfDir)
    val (lshC10, rpC10) = cands(scaled)

    val evRows = spark.read.parquet(s"$sfDir/events.parquet").count()
    val qs = results.map { case (q, t1, t10, c1, c10, hot10, st1, st10) =>
      val state = if (st1 > 0 || st10 > 0)
        f""","state_rows_1x":$st1,"state_rows_${reps}x":$st10""" else ""
      f""""$q":{"t1x_sec":$t1%.3f,"t${reps}x_sec":$t10%.3f,"ratio":${t10 / t1}%.2f,""" +
        f""""cpu1x_sec":$c1%.3f,"cpu${reps}x_sec":$c10%.3f,"cpu_ratio":${c10 / math.max(c1, 1e-9)}%.2f,""" +
        f""""hot_stages_${reps}x":$hot10$state}"""
    }.mkString("{", ",", "}")
    val json =
      f"""{"metric":"scale_${reps}x","sf_base":"$sfDir","events_rows_1x":$evRows,""" +
        f""""artifact_build_1x_sec":$artifact1x%.3f,"artifact_build_${reps}x_sec":$artifact10x%.3f,""" +
        f""""ann_candidates_per_query":{"lsh_1x":$lshC1%.1f,"lsh_${reps}x":$lshC10%.1f,""" +
        f""""rptree_1x":$rpC1%.1f,"rptree_${reps}x":$rpC10%.1f},""" +
        f""""note":"cpu_ratio is the superlinearity signal (executor CPU ns, ~$reps = linear work); wall ratio also reflects utilization slack at 1x; offline artifacts are prebuilt per scale and reported separately; ann_candidates_per_query measures the adaptive-parameter claim (flat = sublinear by construction)","queries":$qs}"""
    println(json)
    java.nio.file.Files.write(java.nio.file.Paths.get(
        sys.env.getOrElse("SPARK_GRAFT_SCALE_OUT", "BENCH_scale.json")),
      (json + "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
    spark.stop()
  }

  /** Synthesize (or reuse) the `reps`× replica dir: events + documents
    * only — the tables the scale queries read. */
  def ensureScaledDir(spark: SparkSession, sfDir: String, reps: Int): String = {
    val base = s"${System.getProperty("java.io.tmpdir")}/graft_scale_${graft.io.FileSkipping.pathKey(sfDir, s"scale$reps-v4")}"
    val done = new java.io.File(s"$base/_DONE")
    if (!done.isFile) {
      spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
      // the replica offsets below promise DISJOINT key universes —
      // the premise every cpu_ratio bar rests on. Verify it against
      // the base dir instead of assuming (TPC-H sf10 already has
      // 1.5M customers, past the 1e6 o_custkey stride).
      def assertFits(table: String, key: String, stride: Long): Unit = {
        val mx = spark.read.parquet(s"$sfDir/$table.parquet")
          .agg(max(col(key)).cast("long")).head.getLong(0)
        require(mx < stride,
          s"replica stride $stride for $table.$key is too small: " +
            s"max($key) = $mx at $sfDir — replica universes would " +
            "collide; raise the stride before scaling")
      }
      assertFits("events", "event_id", 1000000000L)
      assertFits("events", "user_id", 1000000L)
      assertFits("documents", "doc_id", 1000000L)
      assertFits("embeddings", "vec_id", 1000000L)
      assertFits("lineitem", "l_orderkey", 1000000000L)
      assertFits("lineitem", "l_partkey", 10000000L)
      assertFits("lineitem", "l_suppkey", 10000000L)
      assertFits("orders", "o_orderkey", 1000000000L)
      assertFits("orders", "o_custkey", 1000000L)
      val ev = spark.read.parquet(s"$sfDir/events.parquet")
      (0 until reps).map(k => ev
        .withColumn("event_id", col("event_id") + lit(k * 1000000000L))
        // even offset preserves user-parity structure (flagship halves)
        .withColumn("user_id", col("user_id") + lit(k * 1000000L)))
        .reduce(_ union _)
        .write.mode("overwrite").parquet(s"$base/events.parquet")
      val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      (0 until reps).map(k =>
        if (k == 0) docs
        else docs
          .withColumn("doc_id", col("doc_id") + lit(k * 1000000L))
          // tag every token: replicas share NO shingles, so near-dup
          // pair structure scales linearly instead of exploding into
          // 10 fabricated clones of every document
          .withColumn("text", regexp_replace(col("text"), "(^| )", s"$$1r$k")))
        .reduce(_ unionByName _)
        .write.mode("overwrite").parquet(s"$base/documents.parquet")
      val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
      (0 until reps).map(k =>
        if (k == 0) emb
        else emb
          .withColumn("vec_id", col("vec_id") + lit(k * 1000000L))
          // rotate each vector by k positions: replicas keep the same
          // norm/component distribution but point in distinct
          // directions — no fabricated exact clones inflating buckets
          .withColumn("embedding", expr(
            s"concat(slice(embedding, ${k + 1}, size(embedding)), slice(embedding, 1, $k))")))
        .reduce(_ unionByName _)
        .write.mode("overwrite").parquet(s"$base/embeddings.parquet")
      val li = spark.read.parquet(s"$sfDir/lineitem.parquet")
      (0 until reps).map(k => li
        // disjoint order AND part universes: the co-purchase graph
        // becomes `reps` disjoint copies (edges exactly reps×, same
        // support/degree structure) instead of a superlinearly
        // densified single catalog — the honest graph scale-up
        .withColumn("l_orderkey", col("l_orderkey") + lit(k * 1000000000L))
        .withColumn("l_partkey", col("l_partkey") + lit(k * 10000000L))
        .withColumn("l_suppkey", col("l_suppkey") + lit(k * 10000000L)))
        .reduce(_ unionByName _)
        .write.mode("overwrite").parquet(s"$base/lineitem.parquet")
      // orders rides the SAME orderkey offsets as lineitem (so joins
      // stay consistent) with disjoint customer universes — customer
      // count grows with the data, the r13 recommender-eval shape
      val ord = spark.read.parquet(s"$sfDir/orders.parquet")
      (0 until reps).map(k => ord
        .withColumn("o_orderkey", col("o_orderkey") + lit(k * 1000000000L))
        .withColumn("o_custkey", col("o_custkey") + lit(k * 1000000L)))
        .reduce(_ unionByName _)
        .write.mode("overwrite").parquet(s"$base/orders.parquet")
      java.nio.file.Files.write(done.toPath, Array.emptyByteArray)
    }
    base
  }
}
