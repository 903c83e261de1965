package graft.ext

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.VectorFunctions

/** Similarity search over an embedding column (`array<float>`),
  * BASELINE.json north star: brute-force cosine top-k as the exact
  * baseline, random-hyperplane LSH bucketing as the scale path.
  *
  * Scale shape: brute force is a broadcast nested loop — queries
  * (small) broadcast against the corpus (huge), evaluated by the
  * codegen'd `CosineSimilarity` kernel, then a per-query top-k window.
  * That is the right plan up to ~10^4 queries × any corpus size; past
  * that, `lshTopK` buckets the corpus by hyperplane sign signatures so
  * each query only scans its own bucket(s) — candidate generation is a
  * shuffle on (table, signature), re-ranking stays exact.
  */
object Similarity extends Serializable {

  private def cos(s: SparkSession, a: Column, b: Column): Column =
    VectorFunctions.cosine_sim(s, a, b)

  /** Embedding dimensionality, derived from the data (one 1-row job) —
    * never assumed. A corpus with ragged vector lengths fails later in
    * the kernel's length check rather than silently truncating. */
  def dimOf(df: DataFrame, vecCol: String): Int =
    df.select(size(col(vecCol))).head().getInt(0)

  /** ceil(log2(m)) for m >= 2, 0 for m <= 1 — PURE INTEGER (bit
    * length of m-1), so the DuckDB oracle reproduces it exactly as
    * `length(bin(m - 1))` with no float-log boundary risk. */
  def ceilLog2(m: Long): Int =
    if (m <= 1L) 0 else 64 - java.lang.Long.numberOfLeadingZeros(m - 1L)

  /** Scale-adaptive LSH plane count: the smallest p giving 2^p
    * buckets of ~<=256 expected members, clamped to [2, 24] (2^24
    * buckets — the 256-member target holds to ~4.3e9 corpus vectors;
    * the r13 cap of 16 re-admitted linear bucket growth past ~16M).
    * A FIXED p leaves bucket population ~n/2^p and candidate pairs
    * ~n²/2^p — superlinear in n (the r12 10x sweep measured
    * cpu_ratio 24.7 at p=6); deriving p from the corpus count keeps
    * expected bucket size (and so per-query candidate work) constant
    * as data grows. */
  def adaptiveNPlanes(n: Long): Int =
    math.max(2, math.min(24, ceilLog2((n + 255L) / 256L)))

  /** Adaptive plane count for PAIR GENERATION (near-dup): candidate
    * pairs grow with bucket size squared (Σ b²/2 per table), so the
    * right bucket target is ~32, not the top-k path's 256 — at
    * sf0.1 this reproduces the old fixed p=6, and at 10× it deepens
    * to p=10 keeping pair count ~n·16·tables (linear). Measured: the
    * 256-target at sf0.1 made sim_neardup_lsh 0.96→2.3 s. Cap 24
    * (same rationale as [[adaptiveNPlanes]]). */
  def adaptiveNPlanesPairs(n: Long): Int =
    math.max(2, math.min(24, ceilLog2((n + 31L) / 32L)))

  /** Scale-adaptive RP-tree depth: leaves of ~<=256 expected members,
    * clamped to [1, 16] (65,536 leaves — the 256-member target holds
    * to ~16.7M corpus vectors; the r13 cap of 8 re-admitted linear
    * leaf growth past ~65k. The fit is level-wise so deeper is only
    * more digest jobs, not more scans). Fixed depth 3 made every
    * query scan n/8 candidates (cpu_ratio 39 at 10x). */
  def adaptiveRpDepth(n: Long): Int =
    math.max(1, math.min(16, ceilLog2((n + 255L) / 256L)))

  /** Exact brute-force top-k: for each query vector, the k nearest
    * corpus vectors by cosine. `queries` must be small (broadcast). */
  def bruteForceTopK(corpus: DataFrame, queries: DataFrame, k: Int,
                     idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val spark = corpus.sparkSession
    val q = queries.select(col(idCol).as("query_id"), col(vecCol).as("__qv"))
    val c = corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("__cv"))
    val scored = c.join(broadcast(q), col("neighbor_id") =!= col("query_id"))
      .select(col("query_id"), col("neighbor_id"),
        cos(spark, col("__qv"), col("__cv")).as("sim"))
    val w = Window.partitionBy(col("query_id")).orderBy(col("sim").desc, col("neighbor_id"))
    scored.withColumn("rank", row_number().over(w)).filter(col("rank") <= k)
      .select("query_id", "rank", "neighbor_id", "sim")
  }

  /** 60-bit md5-derived hash of a string, identical to
    * `Dedup.strHash60`'s column form and to DuckDB's
    * `('0x'||substring(md5(s),1,15))::BIGINT` — the seed primitive for
    * SQL-reproducible hyperplanes. */
  def md5Hash60(s: String): Long = {
    val d = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    java.lang.Long.parseLong(
      d.take(8).map(b => f"$b%02x").mkString.substring(0, 15), 16)
  }

  /** Deterministic ENGINE-PORTABLE pseudo-random hyperplanes: component
    * (tableIdx, plane, dim) is md5-derived and mapped to [-1, 1] via
    * exact integer arithmetic + one IEEE division, so DuckDB recomputes
    * bit-identical doubles from the same strings and the LSH bucketing
    * keeps an exact oracle (same discipline as Dedup's minhash). A
    * symmetric uniform distribution preserves the sign-LSH guarantee
    * (P[bit differs] = angle/π) just like gaussians do. */
  def hyperplanes(nPlanes: Int, dim: Int, tableIdx: Int): Array[Array[Double]] =
    Array.tabulate(nPlanes)(p => Array.tabulate(dim)(j =>
      (md5Hash60(s"rp:$tableIdx:$p:$j") % 2000001L - 1000000L) / 1000000.0))

  /** Sign-signature of an embedding under the given hyperplanes,
    * packed into one long (nPlanes <= 63). */
  def signature(spark: SparkSession, vecCol: Column, planes: Array[Array[Double]]): Column = {
    val bits = planes.zipWithIndex.map { case (p, i) =>
      val planeLit = array(p.map(lit): _*)
      val dot = VectorFunctions.vec_dot(spark, vecCol, planeLit)
      when(dot > 0, lit(1L << i)).otherwise(lit(0L))
    }
    bits.reduce(_ + _)
  }

  /** LSH-bucketed ANN: `nTables` independent signature tables; a
    * candidate is any corpus vector sharing a signature with the query
    * in at least one table; candidates are re-ranked with exact cosine.
    * Recall grows with nTables; per-bucket fan-out shrinks with
    * nPlanes. No broadcast of the corpus; candidate generation is a
    * hash join on (table, signature). `dim` defaults to the measured
    * embedding width; `nPlanes <= 0` (the default) derives the plane
    * count from the corpus size ([[adaptiveNPlanes]] — one O(1)
    * parquet-metadata count), keeping expected bucket population
    * ~256 at any scale. */
  /** The corpus-side LSH index: one (id, table, signature) row per
    * (vector, table) — the offline artifact a real ANN deployment
    * builds ONCE and queries many times. Persist this (parquet) and
    * pass it to [[lshTopK]] as `corpusSigs`: recomputing signatures
    * per query run costs n·nTables·nPlanes·dim multiplies — with
    * scale-adaptive planes that is n·log(n) work billed to every
    * query, the superlinear residual the r13 10x sweep measured at
    * cpu_ratio 22.3 on sim_topk_lsh. */
  def lshCorpusSignatures(corpus: DataFrame, nPlanes: Int = -1,
                          nTables: Int = 8, dim: Int = -1,
                          idCol: String = "vec_id",
                          vecCol: String = "embedding"): DataFrame = {
    val spark = corpus.sparkSession
    val d = if (dim > 0) dim else dimOf(corpus, vecCol)
    val np = if (nPlanes > 0) nPlanes else adaptiveNPlanes(corpus.count())
    corpus.select(col(idCol),
      posexplode(VectorFunctions.lsh_signatures(
        spark, col(vecCol), nTables, np, d)).as(Seq("__table", "__sig")))
  }

  def lshTopK(corpus: DataFrame, queries: DataFrame, k: Int,
              nPlanes: Int = -1, nTables: Int = 8, dim: Int = -1,
              idCol: String = "vec_id", vecCol: String = "embedding",
              corpusSigs: Option[DataFrame] = None): DataFrame = {
    val spark = corpus.sparkSession
    val d = if (dim > 0) dim else dimOf(corpus, vecCol)
    val np = if (nPlanes > 0) nPlanes else adaptiveNPlanes(corpus.count())
    // all tables' signatures in ONE fused kernel pass + posexplode —
    // per-table signature expressions would re-read the embedding
    // array nTables·nPlanes times per row
    def signed(df: DataFrame, outId: String): DataFrame =
      df.select(col(idCol).as(outId),
        posexplode(VectorFunctions.lsh_signatures(
          spark, col(vecCol), nTables, np, d)).as(Seq("__table", "__sig")))
    // corpus side: the prebuilt index when supplied (query-time work
    // is then queries-signature + bucket join + rerank — candidate-
    // bounded, not corpus-bounded), inline signatures otherwise
    val corpusSide = corpusSigs
      .map(_.select(col(idCol).as("neighbor_id"),
        col("__table"), col("__sig")))
      .getOrElse(signed(corpus, "neighbor_id"))
    // the bucket join + dedupe carries ONLY ids — vectors are joined
    // back onto the (much smaller) deduped pair set, so the wide
    // embedding arrays never ride the candidate-generation shuffle
    val candidates = corpusSide
      .join(signed(queries, "query_id"), Seq("__table", "__sig"))
      .filter(col("neighbor_id") =!= col("query_id"))
      .select("query_id", "neighbor_id")
      .dropDuplicates("query_id", "neighbor_id") // same pair from several tables
    val cv = corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("__cv"))
    val qv = queries.select(col(idCol).as("query_id"), col(vecCol).as("__qv"))
    val scored = candidates.join(cv, "neighbor_id").join(broadcast(qv), "query_id")
      .select(col("query_id"), col("neighbor_id"),
        cos(spark, col("__qv"), col("__cv")).as("sim"))
    val w = Window.partitionBy(col("query_id")).orderBy(col("sim").desc, col("neighbor_id"))
    scored.withColumn("rank", row_number().over(w)).filter(col("rank") <= k)
      .select("query_id", "rank", "neighbor_id", "sim")
  }

  /** RP-tree partitioned ANN top-k (Dasgupta & Freund 2008's random-
    * projection tree, the median-split special case): three md5-derived
    * projection directions split the corpus into 8 MEDIAN-BALANCED
    * leaves — level-wise exact medians via the ExactPercentile
    * aggregate (never a global window over raw vectors; each level is
    * one bounded-digest broadcast back) — and a query's candidates are
    * its leaf's members, exact-cosine re-ranked. The balanced
    * counterpart to lshTopK's random-signature buckets: leaf
    * population is n/8 BY CONSTRUCTION, so candidate fan-out stays
    * uniform under any data skew, the property LSH buckets lack.
    * Plane tag namespace 901 keeps the directions disjoint from the
    * LSH tables'. */
  /** The RP-tree's level-wise median thresholds (level L holds one
    * median per populated node, 2^L at most), built ONCE per corpus
    * with a persisted projection pass — the same one-time
    * offline-artifact discipline as the IVF centroids. A lazy
    * per-level DataFrame chain would re-run the projection scan for
    * every level's median AND again for routing (~6 corpus passes,
    * measured 41× CPU at 10× data); this is 1 projection pass +
    * `depth` digest-sized median jobs. `depth <= 0` (the default)
    * derives the depth from the corpus count ([[adaptiveRpDepth]]:
    * leaves of ~256 at any scale — a FIXED depth-3 tree left every
    * query scanning n/8 candidates, superlinear in n). */
  def rpTreeThresholds(corpus: DataFrame, depth: Int = -1,
                       dim: Int = -1, vecCol: String = "embedding")
      : Seq[Map[Int, Double]] = {
    val spark = corpus.sparkSession
    val d = if (dim > 0) dim else dimOf(corpus, vecCol)
    val dep = if (depth > 0) depth else adaptiveRpDepth(corpus.count())
    val planes = hyperplanes(dep, d, tableIdx = 901)
    val ps = planes.zipWithIndex.map { case (p, i) =>
      VectorFunctions.vec_dot(spark, col(vecCol),
        array(p.map(lit): _*)).as(s"__p$i") }
    def med(e: Column): Column =
      element_at(graft.functions.ExactPercentile.percentiles(e, Seq(0.5)), 1)
    val cp = corpus.select(ps.toSeq: _*).persist()
    try {
      val pArr = array((0 until dep).map(i => col(s"__p$i")): _*)
      val out = scala.collection.mutable.ArrayBuffer
        .empty[Map[Int, Double]]
      for (l <- 0 until dep) {
        // one digest-sized job per level: exact median of this
        // level's projection per populated node (every row's node is
        // populated by construction, so the lookup never misses).
        // Node ids come from the O(depth) fold UDF over the levels
        // fitted so far — NOT a chained node*2+bit column expression,
        // whose tree doubles per level (node appears twice per step:
        // 2^7 expression copies at depth 7 measured 518x CPU at 10x)
        val meds = cp.withColumn("__node", rpLeafUdf(out.toSeq)(pArr))
          .groupBy(col("__node")).agg(med(col(s"__p$l")).as("m"))
          .collect().map(r => r.getInt(0) -> r.getDouble(1)).toMap
        out += meds
      }
      out.toSeq
    } finally cp.unpersist()
  }

  /** O(depth) tree-descent fold: walks the fitted level medians with
    * per-row constant work. A deterministic Scala UDF is the right
    * tool here — the equivalent Column expression references the
    * running node twice per level, so its tree (and the generated
    * code) grows 2^depth. Corpus rows always land on a fitted node;
    * an ARBITRARY query vector can be routed into a node the fit
    * never populated (e.g. past a median equal to a node's max whose
    * '>' child is empty) — a missing node descends with bit 0 (the
    * '>' side), which is exactly where such a query would have gone
    * had the empty child been fitted, so the public rpTreeTopK stays
    * total instead of throwing NoSuchElementException. */
  private def rpLeafUdf(levels: Seq[Map[Int, Double]])
      : org.apache.spark.sql.expressions.UserDefinedFunction =
    udf { ps: Seq[Double] =>
      var node = 0
      var l = 0
      while (l < levels.length) {
        val m = levels(l).get(node)
        node = node * 2 +
          (if (m.isDefined && ps(l) <= m.get) 1 else 0)
        l += 1
      }
      node
    }

  /** The corpus-side RP-tree index: each corpus vector's leaf id —
    * the offline artifact counterpart of [[lshCorpusSignatures]].
    * Persist and pass to [[rpTreeTopK]] as `corpusLeaves`: routing
    * the whole corpus per query run is n·depth·dim multiplies, i.e.
    * n·log(n) billed to every query (the r13 10x sweep's cpu_ratio
    * 53.8 on sim_topk_rptree); with the index, query-time work is
    * route-the-queries + leaf join + candidate rerank — ~flat. */
  def rpTreeLeaves(corpus: DataFrame,
                   thresholds: Seq[Map[Int, Double]],
                   dim: Int = -1, idCol: String = "vec_id",
                   vecCol: String = "embedding"): DataFrame = {
    val spark = corpus.sparkSession
    val d = if (dim > 0) dim else dimOf(corpus, vecCol)
    val planes = hyperplanes(thresholds.length, d, tableIdx = 901)
    val ps = planes.zipWithIndex.map { case (p, i) =>
      VectorFunctions.vec_dot(spark, col(vecCol),
        array(p.map(lit): _*)).as(s"__p$i") }
    val pArr = array(thresholds.indices.map(i => col(s"__p$i")): _*)
    corpus.select(col(idCol) +: ps.toSeq: _*)
      .withColumn("__leaf", rpLeafUdf(thresholds)(pArr))
      .select(col(idCol), col("__leaf"))
  }

  def rpTreeTopK(corpus: DataFrame, queries: DataFrame, k: Int,
                 thresholds: Seq[Map[Int, Double]],
                 dim: Int = -1, idCol: String = "vec_id",
                 vecCol: String = "embedding",
                 corpusLeaves: Option[DataFrame] = None): DataFrame = {
    val spark = corpus.sparkSession
    val d = if (dim > 0) dim else dimOf(corpus, vecCol)
    val planes = hyperplanes(thresholds.length, d, tableIdx = 901)
    def proj(df: DataFrame, outId: String): DataFrame = {
      val ps = planes.zipWithIndex.map { case (p, i) =>
        VectorFunctions.vec_dot(spark, col(vecCol),
          array(p.map(lit): _*)).as(s"__p$i") }
      df.select(col(idCol).as(outId) +: ps.toSeq: _*)
    }
    // thresholds arrive as CLOSURE STATE (the prewarmed per-dir
    // artifact), so routing is one projection scan with an O(depth)
    // per-row tree descent — no median recomputation, no broadcast
    // chain, no 2^depth expression tree (see rpLeafUdf)
    val pArr = array((0 until thresholds.length)
      .map(i => col(s"__p$i")): _*)
    def route(df: DataFrame): DataFrame =
      df.withColumn("__leaf", rpLeafUdf(thresholds)(pArr))
    val leaves = corpusLeaves
      .map(_.select(col(idCol).as("neighbor_id"), col("__leaf")))
      .getOrElse(route(proj(corpus, "neighbor_id"))
        .select(col("neighbor_id"), col("__leaf")))
    val qleaves = route(proj(queries, "query_id"))
      .select(col("query_id"), col("__leaf"))
    val candidates = leaves.join(broadcast(qleaves), "__leaf")
      .filter(col("neighbor_id") =!= col("query_id"))
      .select("query_id", "neighbor_id")
    val cv = corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("__cv"))
    val qv = queries.select(col(idCol).as("query_id"), col(vecCol).as("__qv"))
    val scored = candidates.join(cv, "neighbor_id")
      .join(broadcast(qv), "query_id")
      .select(col("query_id"), col("neighbor_id"),
        cos(spark, col("__qv"), col("__cv")).as("sim"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("sim").desc, col("neighbor_id"))
    scored.withColumn("rank", row_number().over(w)).filter(col("rank") <= k)
      .select("query_id", "rank", "neighbor_id", "sim")
  }

  /** IVF (inverted-file) ANN top-k: a deterministic k-means coarse
    * quantizer partitions the corpus into cells; each query probes its
    * `nProbe` nearest cells and exact-re-ranks only those vectors. The
    * classic trade: recall grows with nProbe, scan cost is
    * ~nProbe/nCentroids of the corpus. `nProbe == nCentroids`
    * degenerates to exact brute force (the law the tests pin).
    * Centroids live on the driver (nCentroids·dim longs — tiny) and
    * ship in the probe closure. */

  /** Quantize an embedding onto the integer grid: round(x·scale).
    * Every quantizer number downstream (dots, norms, Lloyd sums) is
    * then an exact integer below 2^53, which makes the whole fit
    * ENGINE-PORTABLE: sums of exactly-representable integers are exact
    * in ANY order, so a SQL engine re-running the same fixed Lloyd
    * schedule lands on bit-identical centroids and cell assignments
    * (the same discipline as the md5-derived LSH planes). */
  private def intVec(vecCol: Column, scale: Int): Column =
    transform(vecCol.cast("array<double>"), x => round(x * scale).cast("long"))

  /** round-half-away-from-zero s/n in pure integer arithmetic —
    * truncating division, so DuckDB's `//` reproduces it exactly. */
  private def roundDiv(s: Long, n: Long): Long =
    (2 * s + (if (s < 0) -n else n)) / (2 * n)

  /** Cells ranked by cosine(v, centroid) desc, cell index breaking
    * ties; zero-norm centroids excluded. cos = dot/sqrt(n2v·n2c) over
    * exact integer inputs — bit-identical in any IEEE engine. A
    * zero-norm v gives NaN for every cell and falls through to the
    * cell-index tie-break (= DuckDB's NaN-sorts-first under DESC). */
  private[ext] def cellRanks(v: Array[Long], cs: Array[Array[Long]]): Array[Int] = {
    var n2v = 0L
    var i = 0
    while (i < v.length) { n2v += v(i) * v(i); i += 1 }
    val scored = cs.indices.iterator.flatMap { j =>
      val c = cs(j)
      var dot = 0L; var n2c = 0L; var t = 0
      while (t < v.length) { dot += v(t) * c(t); n2c += c(t) * c(t); t += 1 }
      if (n2c == 0L) None
      else Some((dot.toDouble / math.sqrt(n2v.toDouble * n2c.toDouble), j))
    }.toIndexedSeq
    scored.sortWith { case ((ca, ja), (cb, jb)) =>
      if (ca > cb) true else if (cb > ca) false else ja < jb
    }.map(_._2).toArray
  }

  /** Fit the IVF coarse quantizer: md5-ranked seed picks + `iters`
    * fixed Lloyd iterations, all in exact integer arithmetic on the
    * round(x·scale) grid — fully deterministic AND SQL-reproducible
    * (the driver oracle replays the identical schedule in DuckDB).
    * Assignment is a distributed kernel pass; the Lloyd update is an
    * exact integer groupBy-sum (order-independent), re-quantized to
    * the grid with round-half-away integer division so centroid
    * magnitudes never grow. Cells that lose every member keep their
    * previous centroid. At scale the quantizer is trained OFFLINE and
    * reused across queries — callers pass the result to
    * `ivfTopK(centroids = ...)` so the index build never rides the
    * query path. */
  def fitCentroids(corpus: DataFrame, nCentroids: Int = 16, iters: Int = 2,
                   scale: Int = 1000, idCol: String = "vec_id",
                   vecCol: String = "embedding"): Array[Array[Long]] = {
    val spark = corpus.sparkSession
    import spark.implicits._
    val e = corpus.select(col(idCol).cast("long").as("id"),
      intVec(col(vecCol), scale).as("e"))
    var centers: Array[Array[Long]] = e
      .withColumn("__h", Dedup.strHash60(
        concat(lit("ivfseed:"), col("id").cast("string"))))
      .orderBy(col("__h"), col("id")).limit(nCentroids)
      .select("e").as[Array[Long]].collect()
    var it = 0
    while (it < iters) {
      val bc = spark.sparkContext.broadcast(centers)
      val sums = e.select(col("id"), col("e")).as[(Long, Array[Long])]
        .map { case (_, v) => (cellRanks(v, bc.value)(0), v) }
        .toDF("cell", "e")
        .select(col("cell"), posexplode(col("e")).as(Seq("i", "x")))
        .groupBy("cell", "i")
        .agg(sum(col("x")).as("s"), count(lit(1)).as("n"))
        .collect()
      val next = centers.map(_.clone()) // empty cells keep their centroid
      sums.foreach { r =>
        next(r.getInt(0))(r.getInt(1)) = roundDiv(r.getLong(2), r.getLong(3))
      }
      centers = next
      it += 1
    }
    centers
  }

  /** Hard cluster assignment under a (deterministic) quantizer:
    * (id, cell) with cell = argmax cosine to the centroid set — the
    * k-means "predict" half exposed as its own operator. Carries only
    * (id, cell) rows; the centroid matrix rides a broadcast. */
  def cellAssignments(corpus: DataFrame, centroids: Array[Array[Long]],
                      scale: Int = 1000, idCol: String = "vec_id",
                      vecCol: String = "embedding"): DataFrame = {
    val spark = corpus.sparkSession
    import spark.implicits._
    val bc = spark.sparkContext.broadcast(centroids)
    corpus.select(col(idCol).cast("long"), intVec(col(vecCol), scale))
      .as[(Long, Array[Long])]
      .map { case (id, v) => (id, cellRanks(v, bc.value)(0)) }
      .toDF(idCol, "cell")
  }

  /** Maximal-Marginal-Relevance re-ranking (Carbonell & Goldstein
    * 1998): from each query's `poolK` nearest candidates, pick `k`
    * results that trade relevance against redundancy —
    * `score = λ·rel − (1−λ)·max_{s∈S} sim(c, s)`, first pick by pure
    * relevance. The diversity primitive for RAG context selection
    * and eval-set construction.
    *
    * Everything is per-query-bounded: the candidate pool is `poolK`
    * rows, pairwise sims `poolK²`, and the k−1 selection rounds are
    * fixed-depth plan unrolling (no driver loop over data). λ's
    * complement is computed as the COLUMN expression `1.0 − λ` so
    * both engines derive the identical IEEE double. Ties break on
    * neighbor id, so the pick sequence is fully deterministic.
    *
    * EAGER SEMANTICS (r16, documented r17 per review): this operator
    * EXECUTES at call time — the unrolled selection is materialized
    * via localCheckpoint so the two internal stage caches (candidate
    * pool, pairwise sims) can be released before returning (leaving
    * them persisted leaks blocks into long-lived sessions and
    * cache-flatters repeated timings). Consequences a caller must
    * accept: the rerank runs under the session conf in effect AT THE
    * CALL, result blocks stay pinned until the returned frame is
    * unreferenced, and on executor/block loss the job fails rather
    * than recomputing lineage. */
  def mmrRerank(corpus: DataFrame, queries: DataFrame, k: Int,
                poolK: Int, lambda: Double,
                idCol: String = "vec_id",
                vecCol: String = "embedding"): DataFrame = {
    val spark = corpus.sparkSession
    val lam = lit(lambda)
    val lamC = lit(1.0) - lit(lambda)
    // the candidate pool and its pairwise sims feed every selection
    // round — persist both so the relevance scan and the poolK² sim
    // kernel run once, not once per round
    val cand = bruteForceTopK(corpus, queries, poolK, idCol, vecCol)
      .select(col("query_id"), col("neighbor_id"), col("sim").as("rel"))
    val vecs = corpus.select(col(idCol).as("__vid"), col(vecCol).as("__vv"))
    val cv = cand.join(vecs, col("neighbor_id") === col("__vid"))
      .select(col("query_id"), col("neighbor_id"), col("rel"), col("__vv"))
      .persist()
    val pair = cv.select(col("query_id").as("__pq"),
        col("neighbor_id").as("__a"), col("__vv").as("__va"))
      .join(cv.select(col("query_id").as("__pq2"),
        col("neighbor_id").as("__b"), col("__vv").as("__vb")),
        col("__pq") === col("__pq2") && col("__a") =!= col("__b"))
      .select(col("__pq"), col("__a"), col("__b"),
        cos(spark, col("__va"), col("__vb")).as("__ps"))
      .persist()
    val firstW = Window.partitionBy(col("query_id"))
      .orderBy(col("rel").desc, col("neighbor_id"))
    var selected = cv
      .withColumn("__rn", row_number().over(firstW))
      .filter(col("__rn") === 1)
      .select(col("query_id"), col("neighbor_id"),
        lit(1).as("mmr_rank"), col("rel").as("score"))
    var rest = cv.select("query_id", "neighbor_id", "rel")
      .join(selected.select(col("query_id").as("__sq"),
        col("neighbor_id").as("__sid")),
        col("query_id") === col("__sq") &&
          col("neighbor_id") === col("__sid"), "left_anti")
    for (t <- 2 to k) {
      val scored = rest
        .join(pair, col("query_id") === col("__pq") &&
          col("neighbor_id") === col("__a"))
        .join(selected.select(col("query_id").as("__sq"),
          col("neighbor_id").as("__sid")),
          col("__pq") === col("__sq") && col("__b") === col("__sid"))
        .groupBy(col("query_id"), col("neighbor_id"), col("rel"))
        .agg(max(col("__ps")).as("__maxsim"))
        .withColumn("score", lam * col("rel") - lamC * col("__maxsim"))
      val pickW = Window.partitionBy(col("query_id"))
        .orderBy(col("score").desc, col("neighbor_id"))
      val pick = scored.withColumn("__rn", row_number().over(pickW))
        .filter(col("__rn") === 1)
        .select(col("query_id"), col("neighbor_id"),
          lit(t).as("mmr_rank"), col("score"))
      selected = selected.unionAll(pick)
      rest = rest.join(pick.select(col("query_id").as("__dq"),
        col("neighbor_id").as("__did")),
        col("query_id") === col("__dq") &&
          col("neighbor_id") === col("__did"), "left_anti")
    }
    // materialize the (queries × k)-sized result, then RELEASE the two
    // stage caches that fed every unrolled selection round (r16
    // honest-trial discipline: left persisted they leak MEMORY_AND_DISK
    // blocks into the long-lived session AND cache-flatter the next
    // bench trial, which would silently read this trial's
    // InMemoryRelations instead of recomputing).
    val out = selected.localCheckpoint()
    cv.unpersist(); pair.unpersist()
    out
  }

  def ivfTopK(corpus: DataFrame, queries: DataFrame, k: Int,
              nCentroids: Int = 16, nProbe: Int = 4, iters: Int = 2,
              scale: Int = 1000,
              idCol: String = "vec_id", vecCol: String = "embedding",
              centroids: Option[Array[Array[Long]]] = None): DataFrame = {
    val spark = corpus.sparkSession
    val centers = centroids.getOrElse(
      fitCentroids(corpus, nCentroids, iters, scale, idCol, vecCol))
    // cell assignment / probing carries ONLY (id, cell) — the wide
    // embedding arrays join back onto the candidate set afterwards
    val indexed = cellAssignments(corpus, centers, scale, idCol, vecCol)
      .toDF("neighbor_id", "__cell")
    val probes = ivfProbes(queries, centers, nProbe, scale, idCol, vecCol)
      .withColumnRenamed("cell", "__cell")
    val candidates = indexed.join(broadcast(probes), Seq("__cell"))
      .filter(col("neighbor_id") =!= col("query_id"))
      .select("query_id", "neighbor_id")
    val cv = corpus.select(col(idCol).cast("long").as("neighbor_id"), col(vecCol).as("__cv"))
    val qv = queries.select(col(idCol).cast("long").as("query_id"), col(vecCol).as("__qv"))
    val scored = candidates.join(cv, "neighbor_id").join(broadcast(qv), "query_id")
      .select(col("query_id"), col("neighbor_id"),
        cos(spark, col("__qv"), col("__cv")).as("sim"))
    val w = Window.partitionBy(col("query_id")).orderBy(col("sim").desc, col("neighbor_id"))
    scored.withColumn("rank", row_number().over(w)).filter(col("rank") <= k)
      .select("query_id", "rank", "neighbor_id", "sim")
  }

  /** IVF probe list: each query's `nProbe` nearest coarse cells as a
    * broadcastable (query_id, cell) relation — the coarse half of an
    * IVF-ADC (IVF + PQ) search, exposed separately so a PQ scorer can
    * restrict its code scan to the probed cells' postings without
    * touching the raw vectors of the corpus side at all. */
  def ivfProbes(queries: DataFrame, centers: Array[Array[Long]],
                nProbe: Int = 4, scale: Int = 1000,
                idCol: String = "vec_id",
                vecCol: String = "embedding"): DataFrame = {
    val spark = queries.sparkSession
    import spark.implicits._
    val bcCenters = spark.sparkContext.broadcast(centers)
    queries.select(col(idCol).cast("long").as("query_id"),
      intVec(col(vecCol), scale).as("__e"))
      .as[(Long, Array[Long])]
      .flatMap { case (qid, v) =>
        cellRanks(v, bcCenters.value).take(nProbe).map(cell => (qid, cell))
      }.toDF("query_id", "cell")
  }

  /** EXACT all-pairs near-duplicates — a BOUNDED BASELINE, not the
    * scale path (`nearDupPairs` below is): it collects the given
    * corpus to the driver, so callers MUST cap the input (the
    * registered query slices `vec_id < 500`), exactly like the
    * all-pairs `dedup_ngram_jaccard` baseline caps `doc_id < 100`.
    * A naive self-join materializes every
    * (vecA, vecB) array pair — O(n²·dim) bytes through the join — so
    * instead the corpus is collected once into a primitive matrix,
    * broadcast, and each partition streams its rows against it with a
    * tight dot/norm loop, emitting only pairs above threshold. */
  def exactNearDupPairs(corpus: DataFrame, threshold: Double,
                        idCol: String = "vec_id",
                        vecCol: String = "embedding"): DataFrame = {
    val spark = corpus.sparkSession
    import spark.implicits._
    val rows = corpus.select(col(idCol).cast("long"),
      col(vecCol).cast("array<double>")).as[(Long, Array[Double])]
    val all = rows.collect().sortBy(_._1)
    val ids = all.map(_._1)
    val vecs = all.map(_._2)
    val norms = vecs.map(v => math.sqrt(v.map(x => x * x).sum))
    val bc = spark.sparkContext.broadcast((ids, vecs, norms))
    rows.mapPartitions { it =>
      val (ids, vecs, norms) = bc.value
      it.flatMap { case (idA, va) =>
        // ids is sorted — reuse the broadcast norm instead of recomputing
        val ia = java.util.Arrays.binarySearch(ids, idA)
        val na = if (ia >= 0) norms(ia)
                 else math.sqrt(va.map(x => x * x).sum)
        val out = Seq.newBuilder[(Long, Long, Double)]
        var j = 0
        while (j < ids.length) {
          if (ids(j) > idA) {
            val vb = vecs(j)
            var dot = 0.0
            var i = 0
            while (i < va.length) { dot += va(i) * vb(i); i += 1 }
            val denom = na * norms(j)
            if (denom != 0.0 && dot / denom >= threshold)
              out += ((idA, ids(j), dot / denom))
          }
          j += 1
        }
        out.result()
      }
    }.toDF("id_a", "id_b", "sim")
  }

  /** Embedding near-duplicate pairs: cosine >= threshold, via LSH
    * candidate generation + exact verification (a < b, each pair once).
    * This is the 100 TB path: candidates come from a shuffle on
    * (table, signature) carrying only ids; the embedding arrays are
    * joined back onto the deduped candidate set for the verify step —
    * the same shape as `Dedup.minhashNearDups`, never all-pairs. */
  def nearDupPairs(corpus: DataFrame, threshold: Double,
                   nPlanes: Int = -1, nTables: Int = 8, dim: Int = -1,
                   idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val spark = corpus.sparkSession
    val d = if (dim > 0) dim else dimOf(corpus, vecCol)
    val np = if (nPlanes > 0) nPlanes
      else adaptiveNPlanesPairs(corpus.count())
    val sig = corpus.select(col(idCol),
      posexplode(VectorFunctions.lsh_signatures(
        spark, col(vecCol), nTables, np, d)).as(Seq("__table", "__sig")))
    val a = sig.select(col("__table"), col("__sig"), col(idCol).as("id_a"))
    val b = sig.select(col("__table"), col("__sig"), col(idCol).as("id_b"))
    val cand = a.join(b, Seq("__table", "__sig")).filter(col("id_a") < col("id_b"))
      .select("id_a", "id_b").distinct()
    val va = corpus.select(col(idCol).as("id_a"), col(vecCol).as("__va"))
    val vb = corpus.select(col(idCol).as("id_b"), col(vecCol).as("__vb"))
    cand.join(va, "id_a").join(vb, "id_b")
      .select(col("id_a"), col("id_b"), cos(spark, col("__va"), col("__vb")).as("sim"))
      .filter(col("sim") >= threshold)
  }
}
