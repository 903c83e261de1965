package graft.functions

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.functions.call_function
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Catalyst expressions wrapping the HashKernels loops.
  *
  * Why expressions with CodegenFallback rather than doGenCode: each
  * row here does heavy per-row work (hundreds of md5 digests / a
  * 16-permutation scan), so the one virtual eval() call per row is
  * noise — unlike the vector kernels in VectorFunctions, where the
  * per-element loop IS the hot path and gets real doGenCode. What
  * matters is that the old formulation ran 16 interpreted
  * higher-order-function passes (each re-hashing every shingle);
  * these run ONE fused pass.
  *
  * Hash values are identical to the column formulation they replace
  * (md5-derived 60-bit, SNIPPETS.md dedup pattern), so the DuckDB
  * oracle SQL is unchanged. */
case class Shingles60(child: Expression, n: Int)
    extends UnaryExpression with CodegenFallback {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override protected def nullSafeEval(input: Any): Any =
    new GenericArrayData(
      HashKernels.shingles60(input.asInstanceOf[UTF8String].toString, n))
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** Distinct n-gram shingle STRINGS in one pass — the counting twin of
  * `Shingles60` (interpreted transform+concat+distinct ran per-element
  * lambdas; this is one tight loop per row). */
case class ShingleStrings(child: Expression, n: Int)
    extends UnaryExpression with CodegenFallback {
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override protected def nullSafeEval(input: Any): Any =
    new GenericArrayData(
      HashKernels.shingleStrings(input.asInstanceOf[UTF8String].toString, n)
        .map(UTF8String.fromString(_): AnyRef))
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

case class TokensDistinct60(child: Expression)
    extends UnaryExpression with CodegenFallback {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override protected def nullSafeEval(input: Any): Any =
    new GenericArrayData(
      HashKernels.tokensDistinct60(input.asInstanceOf[UTF8String].toString))
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** Per-token hash keeping order and duplicates — the positional twin
  * of `TokensDistinct60` for n-gram language-model kernels. */
case class TokensAll60(child: Expression)
    extends UnaryExpression with CodegenFallback {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override protected def nullSafeEval(input: Any): Any =
    new GenericArrayData(
      HashKernels.tokensAll60(input.asInstanceOf[UTF8String].toString))
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** n-gram shingle hash at every position (duplicates kept, optional
  * hash-domain prefix) — the positional twin of `Shingles60` for
  * substring-dedup / winnowing kernels. */
case class ShinglesPos60(child: Expression, n: Int, prefix: String)
    extends UnaryExpression with CodegenFallback {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override protected def nullSafeEval(input: Any): Any =
    new GenericArrayData(
      HashKernels.shinglesPos60(input.asInstanceOf[UTF8String].toString, n, prefix))
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** MinHash signature with the permutation constants baked in. */
case class MinHashSig(child: Expression, permA: Array[Long], permB: Array[Long])
    extends UnaryExpression with CodegenFallback {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override protected def nullSafeEval(input: Any): Any = {
    val arr = input.asInstanceOf[ArrayData].toLongArray()
    new GenericArrayData(HashKernels.minhashSig(arr, permA, permB))
  }
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

case class SimHash64(child: Expression, nBits: Int)
    extends UnaryExpression with CodegenFallback {
  override def dataType: DataType = LongType
  override protected def nullSafeEval(input: Any): Any =
    HashKernels.simhash(input.asInstanceOf[ArrayData].toLongArray(), nBits)
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

case class RollingHash(child: Expression)
    extends UnaryExpression with CodegenFallback {
  override def dataType: DataType = LongType
  override protected def nullSafeEval(input: Any): Any =
    HashKernels.rollingHash(input.asInstanceOf[UTF8String].toString)
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

case class BowMd5(child: Expression)
    extends UnaryExpression with CodegenFallback {
  override def dataType: DataType = StringType
  override protected def nullSafeEval(input: Any): Any =
    UTF8String.fromString(
      HashKernels.bowMd5(input.asInstanceOf[UTF8String].toString))
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** (n_tokens, n_distinct, sum_len, n_stop) in one traversal. */
case class TokenStats(child: Expression)
    extends UnaryExpression with CodegenFallback {
  override def dataType: DataType = StructType(Seq(
    StructField("n_tokens", IntegerType, nullable = false),
    StructField("n_distinct", IntegerType, nullable = false),
    StructField("sum_len", LongType, nullable = false),
    StructField("n_stop", IntegerType, nullable = false)))
  override protected def nullSafeEval(input: Any): Any = {
    val (n, d, l, st) = HashKernels.tokenStats(
      input.asInstanceOf[UTF8String].toString, TokenStats.stopSet)
    org.apache.spark.sql.catalyst.InternalRow(n, d, l, st)
  }
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}
object TokenStats {
  lazy val stopSet: java.util.Set[String] = {
    val s = new java.util.HashSet[String]()
    graft.ext.TextAnalysis.Stopwords.foreach(s.add)
    s
  }
}

/** Count-only twin of `size(regexp_extract_all(...))` — the token
  * count without allocating the token array per row. */
case class BpeTokenCount(child: Expression)
    extends UnaryExpression with CodegenFallback {
  override def dataType: DataType = IntegerType
  override protected def nullSafeEval(input: Any): Any =
    HashKernels.bpeTokenCount(input.asInstanceOf[UTF8String].toString)
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** Shannon char entropy (bits/char) — one fused per-row pass; the
  * explode-chars/groupBy spelling would shuffle every character of a
  * 100 TB corpus just to count within-row frequencies. */
case class CharEntropy(child: Expression)
    extends UnaryExpression with CodegenFallback {
  override def dataType: DataType = DoubleType
  override protected def nullSafeEval(input: Any): Any =
    HashKernels.charEntropy(input.asInstanceOf[UTF8String].toString)
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** Deflate compression ratio — per-row scan work, no shuffle. */
case class CompressionRatio(child: Expression)
    extends UnaryExpression with CodegenFallback {
  override def dataType: DataType = DoubleType
  override protected def nullSafeEval(input: Any): Any =
    HashKernels.compressionRatio(input.asInstanceOf[UTF8String].toString)
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

case class LangId(child: Expression)
    extends UnaryExpression with CodegenFallback {
  override def dataType: DataType = StringType
  override protected def nullSafeEval(input: Any): Any =
    UTF8String.fromString(HashKernels.langId(
      input.asInstanceOf[UTF8String].toString, LangId.profiles))
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}
object LangId {
  lazy val profiles: Array[(String, java.util.Set[String])] =
    graft.ext.TextAnalysis.LangProfiles.map { case (lang, words) =>
      val s = new java.util.HashSet[String]()
      words.foreach(s.add)
      (lang, s: java.util.Set[String])
    }.toArray
}

object TextHashFunctions {

  private def sess: SparkSession = SparkSession.active

  def shingles60(text: Column, n: Int): Column = {
    Registry.ensure(sess); call_function("graft_shingles60", text, org.apache.spark.sql.functions.lit(n))
  }
  def tokens60(text: Column): Column = {
    Registry.ensure(sess); call_function("graft_tokens60", text)
  }
  def tokensAll60(text: Column): Column = {
    Registry.ensure(sess); call_function("graft_tokens_all60", text)
  }
  def shinglesPos60(text: Column, n: Int, prefix: String = ""): Column = {
    Registry.ensure(sess)
    call_function("graft_shingles_pos60", text,
      org.apache.spark.sql.functions.lit(n),
      org.apache.spark.sql.functions.lit(prefix))
  }
  def shingleStrings(text: Column, n: Int): Column = {
    Registry.ensure(sess)
    call_function("graft_shingle_strings", text, org.apache.spark.sql.functions.lit(n))
  }
  def minhashSig(hashes: Column): Column = {
    Registry.ensure(sess); call_function("graft_minhash_sig", hashes)
  }
  def simhash(hashes: Column, nBits: Int): Column = {
    Registry.ensure(sess); call_function("graft_simhash", hashes, org.apache.spark.sql.functions.lit(nBits))
  }
  def rollingHash(text: Column): Column = {
    Registry.ensure(sess); call_function("graft_rolling_hash", text)
  }
  def bowMd5(text: Column): Column = {
    Registry.ensure(sess); call_function("graft_bow_md5", text)
  }
  def tokenStats(text: Column): Column = {
    Registry.ensure(sess); call_function("graft_token_stats", text)
  }
  def langId(text: Column): Column = {
    Registry.ensure(sess); call_function("graft_lang_id", text)
  }
  def bpeTokenCount(text: Column): Column = {
    Registry.ensure(sess); call_function("graft_bpe_token_count", text)
  }
  def charEntropy(text: Column): Column = {
    Registry.ensure(sess); call_function("graft_char_entropy", text)
  }
  def compressionRatio(text: Column): Column = {
    Registry.ensure(sess); call_function("graft_compression_ratio", text)
  }
}
