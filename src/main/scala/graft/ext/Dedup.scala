package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Document deduplication for a training-data pipeline
  * (BASELINE.json north star): exact (content-hash group-by),
  * MinHash-LSH near-dup (shingle → minhash → band → bucket join →
  * exact Jaccard verify), and SimHash fingerprints.
  *
  * Engine-portability discipline: every hash is derived from md5 hex
  * (`conv(substr(md5(s),1,15),16,10)` — a 60-bit integer) so the DuckDB
  * oracle can reproduce each stage bit-for-bit; nothing depends on
  * Spark's internal murmur3/xxhash seeds.
  *
  * Scale shape: exact dedup is one shuffle on the content hash.
  * MinHash near-dup never forms the n² cross join — candidates come
  * from a shuffle on (band, band-signature), and only candidates pay
  * the exact-Jaccard verify. SimHash is a pure per-row projection
  * (no shuffle at all) — downstream bucketing joins on the fingerprint.
  */
object Dedup {

  val HashMod: Long = 1000000007L

  /** 60-bit md5-derived hash of a string — reproducible in any engine
    * with md5 (DuckDB: `('0x'||substring(md5(s),1,15))::BIGINT`). */
  def strHash60(c: Column): Column =
    conv(substring(md5(c), 1, 15), 16, 10).cast("long")

  /** Distinct word n-gram shingles of the text (1-based element_at,
    * mirrored by DuckDB 1-based list indexing). Guarded: texts shorter
    * than n tokens yield an empty array (Spark's `sequence(1, 0)`
    * would otherwise DESCEND). */
  def shingles(text: Column, n: Int = 3): Column = {
    val t = TextAnalysis.tokens(text)
    when(size(t) >= n,
      array_distinct(
        transform(sequence(lit(1), size(t) - (n - 1)), i =>
          concat_ws(" ", (0 until n).map(o => element_at(t, i + o)): _*))))
      .otherwise(array().cast("array<string>"))
  }

  /** MinHash permutation constants — fixed multipliers/offsets < 1e9
    * (products stay under 2^63 after the mod-1e9+7 reduction),
    * inlined identically into the oracle SQL. */
  val PermA: Seq[Long] = Seq(387L, 1093L, 2791L, 4621L, 6133L, 7919L,
    9973L, 12007L, 14621L, 16921L, 19391L, 21767L, 24113L, 26641L, 29123L, 31511L)
  val PermB: Seq[Long] = Seq(152L, 821L, 1949L, 3307L, 5443L, 7177L,
    8887L, 10957L, 13217L, 15661L, 18119L, 20509L, 22907L, 25301L, 27779L, 30293L)

  /** Per-document distinct shingle-HASH sets (empty sets dropped).
    * Hashes are the same md5-derived 60-bit values `shingles` +
    * `strHash60` would produce, computed by the fused
    * `Shingles60` kernel (one pass instead of per-stage
    * interpreted lambdas). */
  def shingleSets(docs: DataFrame, idCol: String, textCol: String,
                  shingleN: Int = 3): DataFrame =
    docs.select(col(idCol),
      graft.functions.TextHashFunctions.shingles60(col(textCol), shingleN).as("__sh"))
      .filter(size(col("__sh")) > 0)

  /** Per-document (docId, band, bandKey) rows — `bands` of
    * `rowsPerBand` minhash values each, keyed by the concatenated band
    * signature. One row per (doc, band); the shingle arrays themselves
    * are NOT carried through (keeps the LSH shuffle narrow). The
    * 16-permutation signature is ONE fused kernel pass over the
    * hashed shingles. */
  def bandedSignatures(sets: DataFrame, idCol: String,
                       bands: Int = 4, rowsPerBand: Int = 4): DataFrame = {
    require(bands * rowsPerBand <= PermA.size, "not enough permutation constants")
    val withMh = sets.select(col(idCol),
      graft.functions.TextHashFunctions.minhashSig(col("__sh")).as("__sig"))
    // one generator row per band, NOT a bands-way union: a union would
    // re-run the shingle+signature kernels once per branch
    val keys = (0 until bands).map { b =>
      concat_ws(",",
        (0 until rowsPerBand).map(r => element_at(col("__sig"), b * rowsPerBand + r + 1)): _*)
    }
    withMh.select(col(idCol), posexplode(array(keys: _*)).as(Seq("__band", "__bandkey")))
  }

  /** Exact Jaccard of two distinct-element arrays. Both uses of the
    * intersection share one expression subtree, so codegen
    * subexpression elimination evaluates it once. */
  def jaccard(a: Column, b: Column): Column = {
    val inter = size(array_intersect(a, b))
    inter.cast("double") / (size(a) + size(b) - inter)
  }

  /** MinHash-LSH near-duplicate pairs: candidates share at least one
    * band signature; each candidate pair is verified with exact
    * Jaccard >= threshold over the hashed shingle sets (60-bit hashes:
    * collision-free in practice, so equal to string-set Jaccard — the
    * DuckDB oracle verifies against the string sets). Never forms the
    * n² cross join; the band self-join shuffles only (id, band, key)
    * rows, and shingle sets are joined back onto the (small)
    * candidate-pair set for the verify step. */
  def minhashNearDups(docs: DataFrame, threshold: Double,
                      idCol: String = "doc_id", textCol: String = "text",
                      shingleN: Int = 3, bands: Int = 4, rowsPerBand: Int = 4): DataFrame =
    verifiedCandidates(docs, idCol, textCol, shingleN, bands, rowsPerBand) {
      (a, b) => jaccard(a, b).as("jaccard")
    }.filter(col("jaccard") >= threshold)

  /** MinHash-LSH candidates verified by CONTAINMENT — inter/min(|A|,|B|),
    * the asymmetric score that catches subset duplicates (a short doc
    * quoted whole inside a longer one) which symmetric Jaccard dilutes
    * below any usable threshold. Same never-all-pairs LSH shape as
    * `minhashNearDups`. */
  def containmentPairs(docs: DataFrame, threshold: Double,
                       idCol: String = "doc_id", textCol: String = "text",
                       shingleN: Int = 3, bands: Int = 4, rowsPerBand: Int = 4): DataFrame =
    verifiedCandidates(docs, idCol, textCol, shingleN, bands, rowsPerBand) {
      (a, b) => (size(array_intersect(a, b)).cast("double") /
        least(size(a), size(b))).as("containment")
    }.filter(col("containment") >= threshold)

  /** Shared LSH candidate generation + exact verification: banded
    * signatures self-join (ids only ride the shuffle), then `score`
    * computes the verifying measure over the candidate pairs' shingle
    * sets. */
  private def verifiedCandidates(docs: DataFrame, idCol: String, textCol: String,
                                 shingleN: Int, bands: Int, rowsPerBand: Int)(
                                 score: (Column, Column) => Column): DataFrame = {
    // the (scan + shingle-kernel) subplan feeds three consumers
    // (signatures + both sides of the verify join); one materialization
    // serves all three. LAZY localCheckpoint, not persist (r17
    // CacheAudit): the persist registered a CacheManager entry that no
    // caller could release (this is a library internal) — it survived
    // every dedup_*/pipe_* query, leaked blocks into the long-lived
    // session, AND cache-flattered bench trials 2-3, which re-planned
    // shingleSets against the CacheManager and silently read trial 1's
    // blocks. Checkpoint blocks are GC-owned (reclaimed when the frame
    // is unreferenced) and invisible to later plans, so every trial
    // recomputes honestly. Blocks store MEMORY_AND_DISK as before —
    // at 100 TB spilling is still the correct degradation.
    val sets = shingleSets(docs, idCol, textCol, shingleN)
      .localCheckpoint(eager = false)
    val sig = bandedSignatures(sets, idCol, bands, rowsPerBand)
    val a = sig.select(col("__band"), col("__bandkey"), col(idCol).as("id_a"))
    val b = sig.select(col("__band"), col("__bandkey"), col(idCol).as("id_b"))
    val cand = a.join(b, Seq("__band", "__bandkey"))
      .filter(col("id_a") < col("id_b"))
      .select("id_a", "id_b").distinct()
    val sa = sets.select(col(idCol).as("id_a"), col("__sh").as("__sha"))
    val sb = sets.select(col(idCol).as("id_b"), col("__sh").as("__shb"))
    cand.join(sa, "id_a").join(sb, "id_b")
      .select(col("id_a"), col("id_b"), score(col("__sha"), col("__shb")))
  }

  /** Exact dedup marking: per document, the content hash, the group
    * size, and whether this row would be dropped (not the minimum id
    * of its identical-text group). One shuffle on the content hash. */
  def exactDups(docs: DataFrame, idCol: String = "doc_id",
                textCol: String = "text"): DataFrame = {
    val w = Window.partitionBy(col("__h"))
    docs.select(col(idCol), md5(col(textCol)).as("__h"))
      .withColumn("group_size", count(lit(1)).over(w))
      .withColumn("keeper_id", min(col(idCol)).over(w))
      .select(col(idCol), col("__h").as("content_hash"), col("group_size"),
        (col(idCol) =!= col("keeper_id")).as("is_dup"))
  }

  /** SimHash-banded near-duplicate pairs (Charikar): candidates share
    * at least one `bandBits`-wide band of the `nBits` fingerprint
    * (pigeonhole: hamming <= nBands-1 leaves a band untouched), then
    * exact hamming verification on the candidate set. Same
    * never-all-pairs shape as MinHash: the band self-join shuffles
    * only (band, key, id) rows. Fingerprint width controls collision
    * density — 60 bits for this corpus; wider bands at larger scale. */
  def simhashNearDups(docs: DataFrame, maxHamming: Int = 3, nBands: Int = 6,
                      nBits: Int = 60,
                      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    require(nBits % nBands == 0, "nBits must split evenly into bands")
    val bandBits = nBits / nBands
    val mask = (1L << bandBits) - 1
    // Unlike MinHash (whose shingle SETS are too wide to ride the
    // band join), the whole fingerprint is 8 bytes — carry it through
    // and verify hamming BEFORE deduplicating band collisions: the
    // filter shrinks the distinct's input, and no lookup joins are
    // needed at all. One self-join + one distinct, total.
    val bands = docs
      .select(col(idCol), simhash(col(textCol), nBits).as("fp"))
      .select(col(idCol), col("fp"),
        posexplode(array((0 until nBands).map(b =>
          shiftright(col("fp"), b * bandBits).bitwiseAND(lit(mask))): _*))
          .as(Seq("__band", "__key")))
    val a = bands.select(col("__band"), col("__key"),
      col(idCol).as("id_a"), col("fp").as("__fa"))
    val b = bands.select(col("__band"), col("__key"),
      col(idCol).as("id_b"), col("fp").as("__fb"))
    a.join(b, Seq("__band", "__key"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"),
        expr("bit_count(__fa ^ __fb)").cast("long").as("hamming"))
      .filter(col("hamming") <= maxHamming)
      .distinct()
  }

  /** Connected components over a near-duplicate pair set — the step
    * that turns pairwise matches into DEDUP GROUPS (keep one doc per
    * component). Iterative min-label propagation: every node starts
    * labeled with its own id; each round takes the min label across
    * its neighbors; a fixpoint labels each node with its component's
    * minimum id.
    *
    * Scale shape: each round is one join + one aggregation on the
    * edge list — no driver-side graph. Rounds needed = component
    * diameter; near-dup components are overwhelmingly small/dense
    * (dup clusters, not long chains), so this converges in a handful
    * of rounds. Convergence is detected with a 1-row aggregate: labels
    * only ever DECREASE, so an unchanged sum(label) is a fixpoint.
    * Each round's labels are persisted and the previous round is
    * unpersisted — lineage stays shallow and re-computation never
    * cascades across rounds. */
  def connectedComponents(pairs: DataFrame, maxIter: Int = 25,
                          idACol: String = "id_a", idBCol: String = "id_b"): DataFrame = {
    import org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
    // both edge orientations from ONE scan of the pair set — a
    // two-branch union would evaluate the (possibly expensive)
    // upstream pair pipeline twice while materializing the persist
    val edges = pairs
      .select(explode(array(
        struct(col(idACol).as("src"), col(idBCol).as("dst")),
        struct(col(idBCol).as("src"), col(idACol).as("dst")))).as("__e"))
      .select(col("__e.src").as("src"), col("__e.dst").as("dst"))
      .persist(MEMORY_AND_DISK)
    // init = round 1 for free: every node appears as dst (both edge
    // orientations exist), and the node-set dedupe is a shuffle anyway,
    // so fold the first neighbor-min into it instead of a plain distinct
    // the output column names (id, group_id) are carried through every
    // round so the RETURNED frame is the PERSISTED one itself — a
    // rename projection above it would make the caller's unpersist()
    // miss the cache entry (r17 CacheAudit caught exactly that leak on
    // every consumer)
    var labels = edges.groupBy(col("dst"))
      .agg(min(col("src")).as("__m"))
      .select(col("dst").as("id"),
        least(col("__m"), col("dst")).as("group_id"))
      .persist(MEMORY_AND_DISK)
    var prevSum = labels.agg(sum(col("group_id"))).head().getLong(0)
    var converged = false
    var it = 0
    while (!converged && it < maxIter) {
      val nbrMin = edges.join(labels.withColumnRenamed("id", "src"), "src")
        .groupBy(col("dst").as("id"))
        .agg(min(col("group_id")).as("__nl"))
      val hop = labels.join(nbrMin, Seq("id"), "left")
        .select(col("id"),
          least(col("group_id"), coalesce(col("__nl"), col("group_id")))
            .as("group_id"))
      // path halving: also take the label OF the current label (always
      // a node id in the same component), so label chains shorten
      // geometrically — O(log diameter) rounds instead of O(diameter)
      val lk = hop.select(col("id").as("__lid"), col("group_id").as("__ll"))
      val next = hop.join(lk, hop("group_id") === lk("__lid"), "left")
        .select(col("id"),
          least(col("group_id"), coalesce(col("__ll"), col("group_id")))
            .as("group_id"))
        .persist(MEMORY_AND_DISK)
      val s = next.agg(sum(col("group_id"))).head().getLong(0)
      labels.unpersist()
      labels = next
      converged = s == prevSum
      prevSum = s
      it += 1
    }
    edges.unpersist()
    labels
  }

  /** SimHash fingerprint (`nBits` <= 63) over the distinct-token set:
    * bit i is 1 when more than half the token hashes have bit i set.
    * Pure per-row projection — no shuffle; tokenize+hash+bit-count is
    * one fused kernel pass (the per-bit column formulation ran nBits
    * interpreted filter passes per row). */
  def simhash(text: Column, nBits: Int = 32): Column =
    graft.functions.TextHashFunctions.simhash(
      graft.functions.TextHashFunctions.tokens60(text), nBits)
}
