package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Scale rehearsal: runs the heavy pipeline queries of `Queries` at 1×
  * and at a synthesized 10× of the same data, and reports the wall-time
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
  * {{{
  * sbt "runMain graft.ScaleBench [name,name,...]"
  * }}}
  *
  * Each query runs once per scale through the `Probe` collector.
  * Output: one JSON line on stdout, and BENCH_scale.json in cwd — or,
  * for a name subset, BENCH_scale_only_<key>.json (`Bench.outPath`).
  */
object ScaleBench {

  val Queries: Seq[String] = Seq("y_sync_flagship", "y_sync_flagship_interp",
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

  /** Replication factor of the synthesized scale-up. */
  val Reps = 10

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    // optional first argument: sweep just the named queries (local
    // iteration aid)
    val only = args.headOption.map(SparkEntry.names)
    val swept = only.fold(Queries)(names => Queries.filter(names.contains))
    val spark = Graft.session()

    val scaled = ensureScaledDir(spark, sfDir, Reps)

    // warm up every query SHAPE at the smallest SF (a different dir:
    // per-dir memoization stays cold for the timed scales, but
    // whole-stage codegen compiles once here instead of inflating the
    // first timed run)
    val warmDir = sys.env.getOrElse("SPARK_GRAFT_WARM_DIR", "/root/testdata/sf0.01")
    Bench.warmUp(spark, warmDir, swept)

    // one-time offline artifacts (quantizers, zone maps, RP-tree
    // thresholds, the minhash truth set) built OUTSIDE the timed
    // region at BOTH scales, like Bench's index-build phase — letting
    // a query's first touch pay the build misattributes artifact
    // construction as query superlinearity (sim_topk_rptree measured
    // 33× CPU at 10× when its threshold fit billed to the query; the
    // prewarmed query itself is ~0.6 s). The build cost still ships
    // per scale so artifact SCALING stays visible; the stream stages
    // (StreamingEtl.artifacts) are among them, so a timed stream run
    // replays its stage from a fresh checkpoint without building it.
    val artifact1x = Bench.buildArtifacts(spark, sfDir)
    val artifact10x = Bench.buildArtifacts(spark, scaled)

    // one run per scale: dedup_neardup_groups memoizes its grouping
    // per (session, dir), so a min-of-N would time a cache read from
    // trial 2 on — the first run is the honest cost at each scale
    val probe = new Probe(spark)
    val queries = SparkEntry.queries
    val results = swept
      .map(q => (q, probe.run(q, sfDir, queries(q)), probe.run(q, scaled, queries(q))))
      .filter { case (q, r1, r10) =>
        (r1.failure ++ r10.failure).foreach(f => System.err.println(s"[scale] $q failed: $f"))
        r1.failure.isEmpty && r10.failure.isEmpty
      }
    probe.close()

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
    // Executor CPU accounting: wall-clock ratios conflate work growth
    // with machine utilization — a sub-second 1× run UNDERFILLS the
    // cores, so a query whose work honestly grows 10× can land
    // anywhere in wall ratio 1–10 depending only on scheduling slack.
    // The superlinearity detector is the CPU-TIME ratio: total
    // executor CPU ns at 10× over 1× ≈ 10 for linear work; >> 10
    // means real state growth (quadratic candidates, digest blow-up).
    // The hot stages (tasks per stage, max vs median task time) show a
    // wall-ratio failure with LINEAR cpu_ratio, where one stage stops
    // spreading (too few partitions, or a straggler task owning a hot
    // key) — a different fix from an algorithmic blow-up. Peak
    // state-store rows ship for the q_stream_* rows (0 for batch
    // queries) as the boundedness measurement.
    val qs = results.map { case (q, r1, r10) =>
      val (t1, t10, c1, c10) = (r1.wallS, r10.wallS, r1.cpuS, r10.cpuS)
      val state = if (r1.stateRows > 0 || r10.stateRows > 0)
        f""","state_rows_1x":${r1.stateRows},"state_rows_${Reps}x":${r10.stateRows}""" else ""
      f""""$q":{"t1x_sec":$t1%.3f,"t${Reps}x_sec":$t10%.3f,"ratio":${t10 / t1}%.2f,""" +
        f""""cpu1x_sec":$c1%.3f,"cpu${Reps}x_sec":$c10%.3f,"cpu_ratio":${c10 / math.max(c1, 1e-9)}%.2f,""" +
        s""""hot_stages_${Reps}x":${r10.stagesJson}$state}"""
    }.mkString("{", ",", "}")
    val json =
      f"""{"metric":"scale_${Reps}x","sf_base":"$sfDir","events_rows_1x":$evRows,""" +
        f""""artifact_build_1x_sec":${artifact1x.map(_._2).sum}%.3f,"artifact_build_${Reps}x_sec":${artifact10x.map(_._2).sum}%.3f,""" +
        s""""artifact_sec_1x":${Bench.secJson(artifact1x)},"artifact_sec_${Reps}x":${Bench.secJson(artifact10x)},""" +
        f""""ann_candidates_per_query":{"lsh_1x":$lshC1%.1f,"lsh_${Reps}x":$lshC10%.1f,""" +
        f""""rptree_1x":$rpC1%.1f,"rptree_${Reps}x":$rpC10%.1f},""" +
        f""""note":"cpu_ratio is the superlinearity signal (executor CPU ns, ~$Reps = linear work); wall ratio also reflects utilization slack at 1x; offline artifacts are prebuilt per scale and reported separately; ann_candidates_per_query measures the adaptive-parameter claim (flat = sublinear by construction)","queries":$qs}"""
    println(json)
    java.nio.file.Files.write(java.nio.file.Paths.get(Bench.outPath("BENCH_scale", only)),
      (json + "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
    spark.stop()
  }

  /** Synthesize (or reuse) the `reps`× replica dir, an `Artifacts`
    * directory: events, documents, embeddings, lineitem and orders —
    * the tables the scale queries read. */
  def ensureScaledDir(spark: SparkSession, sfDir: String, reps: Int): String =
    graft.io.Artifacts.dir(sfDir, "scale", "v4", reps) { base =>
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
    }
}
