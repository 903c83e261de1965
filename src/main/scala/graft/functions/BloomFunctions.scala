package graft.functions

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.functions.{call_function, lit}
import org.apache.spark.sql.types.{BooleanType, DataType}
import org.apache.spark.util.sketch.BloomFilter

/** Manual runtime bloom-filter join pruning.
  *
  * Spark's own runtime row-level filter
  * (`spark.sql.optimizer.runtime.bloomFilter.enabled`) injects this
  * rewrite automatically but only under its own heuristics, and its
  * `bloom_filter_agg` / `might_contain` functions are internal (not
  * SQL-resolvable). This is the explicit form: build the filter over
  * the build side's join keys with the public distributed aggregate
  * (`DataFrameStatFunctions.bloomFilter`, a treeAggregate), broadcast
  * it once, and probe it in a predicate BEFORE the probe side's
  * exchange. Bloom filters have no false negatives, so the downstream
  * real join sees every matching row; false positives are dropped by
  * the join itself — result exactness is unconditional.
  */
case class BloomMightContainLong(child: Expression, bf: Broadcast[BloomFilter])
    extends UnaryExpression with CodegenFallback {
  override def dataType: DataType = BooleanType
  override protected def nullSafeEval(input: Any): Any =
    bf.value.mightContainLong(input.asInstanceOf[Long])
  override protected def withNewChildInternal(c: Expression): Expression =
    copy(child = c)
}

object BloomFunctions {

  private val handles =
    scala.collection.concurrent.TrieMap.empty[Long, Broadcast[BloomFilter]]
  private val nextId = new java.util.concurrent.atomic.AtomicLong(0L)

  /** Build a bloom over `keyCol` (long) of `keys` distributedly,
    * broadcast it, and return a handle for `mightContain`. The handle
    * indirection exists because FunctionRegistry builders construct
    * expressions from child Expressions only; the broadcast is resolved
    * driver-side at plan time and ships to executors as a normal
    * Broadcast reference inside the serialized expression. */
  def buildBroadcast(keys: DataFrame, keyCol: String,
                     expectedItems: Long, fpp: Double): Long = {
    val bf = keys.stat.bloomFilter(keyCol, expectedItems, fpp)
    val b = keys.sparkSession.sparkContext.broadcast(bf)
    val id = nextId.incrementAndGet()
    handles.put(id, b)
    id
  }

  private[functions] def handle(id: Long): Broadcast[BloomFilter] =
    handles.getOrElse(id,
      throw new IllegalArgumentException(s"unknown bloom handle $id"))

  /** Predicate: key may be in the handle's filter (never a false
    * negative). */
  def mightContain(key: Column, handle: Long): Column = {
    Registry.ensure(SparkSession.active)
    call_function("graft_bloom_might_contain", key, lit(handle))
  }
}
