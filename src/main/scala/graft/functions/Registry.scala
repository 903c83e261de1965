package graft.functions

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.unsafe.types.UTF8String

/** The engine's SQL functions, defined once: `GraftExtensions` injects
  * the whole table into every session built with the extension, and
  * the Column wrappers call `ensure`, which registers only the names a
  * session lacks (one built without the extension, or one whose entry
  * was dropped). Constant arguments arrive as foldable expressions and
  * are extracted eagerly by the builders. */
object Registry {

  final case class Fn(name: String, usage: String,
      builder: Seq[Expression] => Expression) {
    def id: FunctionIdentifier = FunctionIdentifier(name)
    def info: ExpressionInfo = new ExpressionInfo(getClass.getName, null,
      name, usage, "", "", "", "", "", "", "scala_udf")
  }

  private def intArg(fn: String, e: Expression, what: String): Int =
    e.eval(null) match {
      case n: java.lang.Number => n.intValue()
      case other => throw new IllegalArgumentException(
        s"$fn: non-foldable $what $other")
    }

  private def intOr(fn: String, es: Seq[Expression], i: Int, default: Int): Int =
    if (es.size > i) intArg(fn, es(i), "int argument") else default

  // the optional prefix arg must be a foldable non-NULL string — a
  // clear error beats the NPE/ClassCastException that a bare eval+cast
  // would throw on `graft_shingles_pos60(t, 3, col)`
  private def strArg(fn: String, e: Expression): String = {
    if (!e.foldable) throw new IllegalArgumentException(
      s"$fn: prefix argument must be a foldable string literal, got $e")
    e.eval(null) match {
      case null => ""
      case u: UTF8String => u.toString
      case other => other.toString
    }
  }

  val all: Seq[Fn] = Seq(
    Fn("vec_dot", "dot product of two numeric arrays",
      es => DotProduct(es.head, es(1))),
    Fn("cosine_sim", "cosine similarity of two numeric arrays",
      es => CosineSimilarity(es.head, es(1))),
    Fn("lsh_signatures", "packed random-hyperplane sign signature per LSH table",
      es => LshSignatures(es.head, intArg("lsh_signatures", es(1), "nTables"),
        intArg("lsh_signatures", es(2), "nPlanes"),
        intArg("lsh_signatures", es(3), "dim"))),
    Fn("graft_shingles60", "md5-60 hashes of distinct word n-gram shingles",
      es => Shingles60(es.head, intOr("graft_shingles60", es, 1, 3))),
    Fn("graft_tokens60", "md5-60 hashes of distinct tokens",
      es => TokensDistinct60(es.head)),
    Fn("graft_tokens_all60", "md5-60 hashes of every token, duplicates kept",
      es => TokensAll60(es.head)),
    Fn("graft_shingles_pos60",
      "md5-60 hashes of positional word n-gram shingles with an optional prefix",
      es => ShinglesPos60(es.head, intOr("graft_shingles_pos60", es, 1, 3),
        if (es.size > 2) strArg("graft_shingles_pos60", es(2)) else "")),
    Fn("graft_shingle_strings", "distinct word n-gram shingle strings",
      es => ShingleStrings(es.head, intOr("graft_shingle_strings", es, 1, 3))),
    Fn("graft_minhash_sig", "16-permutation MinHash signature",
      es => MinHashSig(es.head, graft.ext.Dedup.PermA.toArray,
        graft.ext.Dedup.PermB.toArray)),
    Fn("graft_simhash", "SimHash fingerprint over hashed tokens",
      es => SimHash64(es.head, intOr("graft_simhash", es, 1, 32))),
    Fn("graft_rolling_hash", "polynomial rolling hash mod 1e9+7",
      es => RollingHash(es.head)),
    Fn("graft_bow_md5", "md5 of the sorted distinct token set",
      es => BowMd5(es.head)),
    Fn("graft_token_stats", "one-pass token statistics struct",
      es => TokenStats(es.head)),
    Fn("graft_lang_id", "marker-word language-ID",
      es => LangId(es.head)),
    Fn("graft_bpe_token_count", "BPE-ish token count without materializing tokens",
      es => BpeTokenCount(es.head)),
    Fn("graft_char_entropy", "character-level Shannon entropy (bits/char)",
      es => CharEntropy(es.head)),
    Fn("graft_compression_ratio", "deflate compressed/raw byte ratio",
      es => CompressionRatio(es.head)),
    // the percentage argument must be a foldable array/double literal
    // (same restriction as the built-in `percentile`)
    Fn("graft_percentile", "exact linear-interpolation percentiles",
      es => {
        val ps = es(1).eval(null) match {
          case a: ArrayData => a.toDoubleArray().toSeq
          case d: java.lang.Number => Seq(d.doubleValue())
          case other => throw new IllegalArgumentException(
            s"graft_percentile: non-foldable percentage $other")
        }
        ExactPercentile(es.head, ps).toAggregateExpression()
      }),
    Fn("graft_heavy_hitters", "Misra-Gries heavy hitters with k counters",
      es => MisraGries(es.head, intArg("graft_heavy_hitters", es(1), "k"))
        .toAggregateExpression()),
    Fn("graft_gram",
      "exact integer Gram accumulator: struct(n, sums, upper-tri products)",
      es => GramMatrix(es.head, intArg("graft_gram", es(1), "d"))
        .toAggregateExpression()),
    Fn("graft_bloom_might_contain",
      "bloom-filter membership of a long key against a broadcast handle",
      es => BloomMightContainLong(es.head, BloomFunctions.handle(
        es(1).eval(null).asInstanceOf[Number].longValue())))
  )

  /** Register every function `spark` does not know yet (the `contains`
    * check keeps repeated calls from replacing live entries). */
  def ensure(spark: SparkSession): Unit = {
    val reg = spark.sessionState.functionRegistry
    all.foreach { f =>
      if (!reg.functionExists(f.id)) reg.registerFunction(f.id, f.info, f.builder)
    }
  }
}
