package graft.functions

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.functions.{call_function, lit}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Misra-Gries summary state: at most k counters. */
final class MGBuf(val counts: java.util.HashMap[String, Long], val k: Int) {
  def this(k: Int) = this(new java.util.HashMap[String, Long](), k)

  def add(term: String, w: Long): Unit = {
    val cur = counts.get(term)
    if (cur != 0L || counts.containsKey(term)) counts.put(term, cur + w)
    else if (counts.size() < k) counts.put(term, w)
    else {
      // decrement-all by the largest amount that keeps every counter
      // >= 0: min(w, smallest counter). Classic MG decrements by 1 per
      // arrival; batching by the min keeps the identical guarantee
      // (every counter absorbs the same total decrement).
      var dec = w
      val it0 = counts.values().iterator()
      while (it0.hasNext) dec = math.min(dec, it0.next())
      val it = counts.entrySet().iterator()
      while (it.hasNext) {
        val e = it.next()
        val nv = e.getValue - dec
        if (nv <= 0L) it.remove() else e.setValue(nv)
      }
      val rem = w - dec
      if (rem > 0L && counts.size() < k) counts.put(term, rem)
    }
  }

  /** Merge-then-shrink (Agarwal et al.: mergeable summaries): sum
    * counters, and if over k, subtract the (k+1)-th largest count from
    * every counter and drop the non-positive ones. Error stays within
    * N/(k+1) after any merge tree shape. */
  def merge(o: MGBuf): Unit = {
    val it = o.counts.entrySet().iterator()
    while (it.hasNext) {
      val e = it.next()
      val cur = counts.get(e.getKey)
      counts.put(e.getKey, cur + e.getValue)
    }
    if (counts.size() > k) {
      val vals = new Array[Long](counts.size())
      var i = 0
      val vi = counts.values().iterator()
      while (vi.hasNext) { vals(i) = vi.next(); i += 1 }
      java.util.Arrays.sort(vals)
      val cut = vals(vals.length - k - 1) // (k+1)-th largest
      val ei = counts.entrySet().iterator()
      while (ei.hasNext) {
        val e = ei.next()
        val nv = e.getValue - cut
        if (nv <= 0L) ei.remove() else e.setValue(nv)
      }
    }
  }
}

/** Misra-Gries heavy hitters as a mergeable Spark aggregate: O(k)
  * state per partial regardless of input size — THE 100 TB shape for
  * "top terms of a corpus" (the exact `corpus_ngram_topk` aggregate
  * shuffles every distinct term; this shuffles k counters per map
  * task). Guarantee: any term with true frequency > N/(k+1) is
  * present, and each reported lower bound is within N/(k+1) of the
  * true count (pinned as a law in `HeavyHittersSpec`). Sketch contents
  * depend on partition merge order -> rows-only driver check, like
  * the other sketch twins. */
case class MisraGries(
    child: Expression,
    k: Int,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[MGBuf] {

  override def children: Seq[Expression] = Seq(child)
  override def nullable: Boolean = false
  override def dataType: DataType = ArrayType(StructType(Seq(
    StructField("term", StringType, nullable = false),
    StructField("count_lb", LongType, nullable = false))), containsNull = false)

  override def createAggregationBuffer(): MGBuf = new MGBuf(k)

  override def update(buf: MGBuf, input: InternalRow): MGBuf = {
    val v = child.eval(input)
    if (v != null) buf.add(v.asInstanceOf[UTF8String].toString, 1L)
    buf
  }

  override def merge(buf: MGBuf, other: MGBuf): MGBuf = { buf.merge(other); buf }

  override def eval(buf: MGBuf): Any = {
    // deterministic emission order: count desc, then term
    val entries =
      new java.util.ArrayList[java.util.Map.Entry[String, Long]](buf.counts.entrySet())
    entries.sort { (a: java.util.Map.Entry[String, Long],
                    b: java.util.Map.Entry[String, Long]) =>
      val c = java.lang.Long.compare(b.getValue, a.getValue)
      if (c != 0) c else a.getKey.compareTo(b.getKey)
    }
    val rows = new Array[Any](entries.size())
    var i = 0
    while (i < entries.size()) {
      val e = entries.get(i)
      rows(i) = InternalRow(UTF8String.fromString(e.getKey), e.getValue)
      i += 1
    }
    new GenericArrayData(rows)
  }

  override def serialize(buf: MGBuf): Array[Byte] = {
    val bos = new java.io.ByteArrayOutputStream()
    val out = new java.io.DataOutputStream(bos)
    out.writeInt(buf.k)
    out.writeInt(buf.counts.size())
    val it = buf.counts.entrySet().iterator()
    while (it.hasNext) {
      val e = it.next()
      out.writeUTF(e.getKey); out.writeLong(e.getValue)
    }
    out.flush(); bos.toByteArray
  }

  override def deserialize(bytes: Array[Byte]): MGBuf = {
    val in = new java.io.DataInputStream(new java.io.ByteArrayInputStream(bytes))
    val buf = new MGBuf(in.readInt())
    val n = in.readInt()
    var i = 0
    while (i < n) { buf.counts.put(in.readUTF(), in.readLong()); i += 1 }
    buf
  }

  override def withNewMutableAggBufferOffset(o: Int): MisraGries =
    copy(mutableAggBufferOffset = o)
  override def withNewInputAggBufferOffset(o: Int): MisraGries =
    copy(inputAggBufferOffset = o)
  override protected def withNewChildrenInternal(cs: IndexedSeq[Expression]): Expression =
    copy(child = cs.head)
}

object HeavyHitters {

  /** Column API: Misra-Gries top terms of `e` with k counters, as
    * array<struct<term, count_lb>> sorted by (count_lb desc, term). */
  def heavyHitters(e: Column, k: Int): Column = {
    Registry.ensure(SparkSession.active)
    call_function("graft_heavy_hitters", e, lit(k))
  }
}
