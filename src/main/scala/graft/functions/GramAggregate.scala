package graft.functions

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.functions.{call_function, lit}
import org.apache.spark.sql.types._

/** Exact integer Gram/moment accumulator for a d-dim long vector:
  * n, the d column sums, and the d(d+1)/2 upper-triangle products
  * Σ vᵢ·vⱼ — everything a covariance / CKA / whitening stage needs,
  * in ONE aggregation buffer.
  *
  * This is THE 100 TB shape for second-moment statistics: the pair
  * explode (`emb_covariance`'s per-row generation) ships d(d+1)/2
  * digest rows per map task through the exchange and re-aggregates
  * them; this aggregate ships ONE buffer of 2080 longs per partial
  * (d=64) and merges by elementwise add. Order-independent exact
  * integer sums → identical on any partition layout, so downstream
  * oracles hash-match like any exact aggregate. */
final class GramBuf(val d: Int) {
  var n: Long = 0L
  val s: Array[Long] = new Array[Long](d)
  val p: Array[Long] = new Array[Long](d * (d + 1) / 2)

  def add(v: Array[Long]): Unit = {
    n += 1L
    var i = 0
    var idx = 0
    while (i < d) {
      val vi = v(i)
      s(i) += vi
      var j = i
      while (j < d) {
        p(idx) += vi * v(j)
        idx += 1
        j += 1
      }
      i += 1
    }
  }

  def merge(o: GramBuf): Unit = {
    n += o.n
    var i = 0
    while (i < d) { s(i) += o.s(i); i += 1 }
    var k = 0
    while (k < p.length) { p(k) += o.p(k); k += 1 }
  }
}

/** `graft_gram(arr, d)` → struct(n, s: array<bigint>, p: array<bigint>)
  * with p in row-major upper-triangle order (i ≤ j). */
case class GramMatrix(
    child: Expression,
    d: Int,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[GramBuf] {

  override def children: Seq[Expression] = Seq(child)
  override def nullable: Boolean = false
  override def dataType: DataType = StructType(Seq(
    StructField("n", LongType, nullable = false),
    StructField("s", ArrayType(LongType, containsNull = false), nullable = false),
    StructField("p", ArrayType(LongType, containsNull = false), nullable = false)))

  override def createAggregationBuffer(): GramBuf = new GramBuf(d)

  override def update(buf: GramBuf, input: InternalRow): GramBuf = {
    val v = child.eval(input)
    if (v != null) {
      val arr = v.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
        .toLongArray()
      require(arr.length == d,
        s"graft_gram: expected a $d-dim vector, got ${arr.length}")
      buf.add(arr)
    }
    buf
  }

  override def merge(buf: GramBuf, other: GramBuf): GramBuf = {
    buf.merge(other); buf
  }

  override def eval(buf: GramBuf): Any =
    InternalRow(buf.n,
      new GenericArrayData(buf.s.map(x => x: Any)),
      new GenericArrayData(buf.p.map(x => x: Any)))

  override def serialize(buf: GramBuf): Array[Byte] = {
    val bb = java.nio.ByteBuffer.allocate(8 + 4 + 8 * (buf.d + buf.p.length))
    bb.putInt(buf.d).putLong(buf.n)
    buf.s.foreach(bb.putLong)
    buf.p.foreach(bb.putLong)
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): GramBuf = {
    val bb = java.nio.ByteBuffer.wrap(bytes)
    val buf = new GramBuf(bb.getInt())
    buf.n = bb.getLong()
    var i = 0
    while (i < buf.d) { buf.s(i) = bb.getLong(); i += 1 }
    var k = 0
    while (k < buf.p.length) { buf.p(k) = bb.getLong(); k += 1 }
    buf
  }

  override def withNewMutableAggBufferOffset(o: Int): GramMatrix =
    copy(mutableAggBufferOffset = o)
  override def withNewInputAggBufferOffset(o: Int): GramMatrix =
    copy(inputAggBufferOffset = o)
  override protected def withNewChildrenInternal(cs: IndexedSeq[Expression]): Expression =
    copy(child = cs.head)
}

object GramAggregate {

  /** Column API: exact Gram accumulator of a d-dim array<bigint>
    * column, as struct(n, s, p) with upper-triangle p. */
  def gram(e: Column, d: Int): Column = {
    Registry.ensure(SparkSession.active)
    call_function("graft_gram", e, lit(d))
  }
}
