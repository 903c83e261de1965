package graft.functions

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.functions.call_function
import org.apache.spark.sql.types._

/** Native Catalyst expressions for embedding math (dot product, cosine
  * similarity) over `array<float>` / `array<double>` columns.
  *
  * Why not `aggregate(zip_with(...))`: higher-order functions stay on
  * the interpreted path (each lambda call allocates), which is the hot
  * loop of ANN search over 10^9 vectors. These expressions generate a
  * tight primitive Java loop inside whole-stage codegen — no boxing,
  * no per-element lambda dispatch — and fall back to a primitive
  * `while` loop in interpreted eval. Accumulation is sequential
  * (index order), so results are deterministic and reproducible by the
  * DuckDB oracle's list kernels.
  *
  * Dimension discipline: mismatched vector lengths RAISE instead of
  * silently truncating — a dimension bug must fail loudly, not produce
  * plausible-but-wrong similarities.
  */
abstract class VectorBinaryExpression extends BinaryExpression {
  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true

  protected def elemType(e: Expression): DataType = e.dataType match {
    case ArrayType(t, _) => t
    case other => throw new IllegalArgumentException(
      s"vector function expects array inputs, got $other")
  }

  protected def checkedLen(a: ArrayData, b: ArrayData): Int = {
    val n = a.numElements()
    if (n != b.numElements()) throw new IllegalArgumentException(
      s"vector length mismatch: ${a.numElements()} vs ${b.numElements()}")
    n
  }

  protected def getD(a: ArrayData, i: Int, t: DataType): Double = t match {
    case DoubleType => a.getDouble(i)
    case FloatType  => a.getFloat(i).toDouble
    case IntegerType => a.getInt(i).toDouble
    case LongType   => a.getLong(i).toDouble
    case other => throw new IllegalArgumentException(s"unsupported element type $other")
  }

  protected def javaGetter(arr: String, i: String, t: DataType): String = t match {
    case DoubleType  => s"$arr.getDouble($i)"
    case FloatType   => s"(double) $arr.getFloat($i)"
    case IntegerType => s"(double) $arr.getInt($i)"
    case LongType    => s"(double) $arr.getLong($i)"
    case other => throw new IllegalArgumentException(s"unsupported element type $other")
  }

  protected def lenCheckJava(a: String, b: String, n: String): String =
    s"""int $n = $a.numElements();
       |if ($n != $b.numElements()) {
       |  throw new IllegalArgumentException("vector length mismatch: " +
       |    $n + " vs " + $b.numElements());
       |}""".stripMargin
}

/** dot(a, b) = Σ a_i·b_i (sequential, computed in double). */
case class DotProduct(left: Expression, right: Expression) extends VectorBinaryExpression {
  override def nullSafeEval(l: Any, r: Any): Any = {
    val a = l.asInstanceOf[ArrayData]; val b = r.asInstanceOf[ArrayData]
    val (ta, tb) = (elemType(left), elemType(right))
    val n = checkedLen(a, b)
    var dot = 0.0; var i = 0
    while (i < n) { dot += getD(a, i, ta) * getD(b, i, tb); i += 1 }
    dot
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val (ta, tb) = (elemType(left), elemType(right))
      val n = ctx.freshName("n"); val dot = ctx.freshName("dot")
      val i = ctx.freshName("i")
      s"""
         |${lenCheckJava(a, b, n)}
         |double $dot = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  $dot += ${javaGetter(a, i, ta)} * ${javaGetter(b, i, tb)};
         |}
         |${ev.value} = $dot;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

/** cosine(a, b) = dot / (‖a‖·‖b‖); null when either norm is zero
  * (matching `corr`-style undefinedness rather than fabricating 0). */
case class CosineSimilarity(left: Expression, right: Expression) extends VectorBinaryExpression {
  override def nullSafeEval(l: Any, r: Any): Any = {
    val a = l.asInstanceOf[ArrayData]; val b = r.asInstanceOf[ArrayData]
    val (ta, tb) = (elemType(left), elemType(right))
    val n = checkedLen(a, b)
    var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
    while (i < n) {
      val x = getD(a, i, ta); val y = getD(b, i, tb)
      dot += x * y; na += x * x; nb += y * y; i += 1
    }
    val denom = math.sqrt(na) * math.sqrt(nb)
    if (denom == 0.0) null else java.lang.Double.valueOf(dot / denom)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val (ta, tb) = (elemType(left), elemType(right))
      val n = ctx.freshName("n"); val i = ctx.freshName("i")
      val dot = ctx.freshName("dot"); val na = ctx.freshName("na")
      val nb = ctx.freshName("nb"); val x = ctx.freshName("x")
      val y = ctx.freshName("y"); val denom = ctx.freshName("denom")
      s"""
         |${lenCheckJava(a, b, n)}
         |double $dot = 0.0, $na = 0.0, $nb = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  double $x = ${javaGetter(a, i, ta)};
         |  double $y = ${javaGetter(b, i, tb)};
         |  $dot += $x * $y; $na += $x * $x; $nb += $y * $y;
         |}
         |double $denom = java.lang.Math.sqrt($na) * java.lang.Math.sqrt($nb);
         |if ($denom == 0.0) { ${ev.isNull} = true; }
         |else { ${ev.value} = $dot / $denom; }
       """.stripMargin
    })

  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

/** All `nTables` random-hyperplane LSH sign-signatures of one vector in
  * ONE pass: the vector is read out of ArrayData once, then every
  * (table, plane) dot product runs over a flat primitive plane matrix.
  *
  * Why fused: building the signatures from nTables×nPlanes separate
  * `vec_dot(vec, array(lit…))` expressions re-reads the embedding array
  * 48 times per row (default 8×6) and evaluates 48 array literals —
  * measured ~5× slower than this kernel at sf0.1. The planes are
  * md5-derived from (tableIdx, plane, dim) exactly like
  * `Similarity.hyperplanes`, so the DuckDB oracle still reproduces the
  * bucketing bit-for-bit from the same three integers. */
case class LshSignatures(child: Expression, nTables: Int, nPlanes: Int, dim: Int)
  extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = true

  private def elemType: DataType = child.dataType match {
    case ArrayType(t, _) => t
    case other => throw new IllegalArgumentException(
      s"lsh_signatures expects an array input, got $other")
  }

  /** Plane components flattened [table][plane][dim] — derived once per
    * JVM from the md5 seed, never shipped through the plan. */
  @transient private lazy val flatPlanes: Array[Double] = {
    val out = new Array[Double](nTables * nPlanes * dim)
    var o = 0
    var t = 0
    while (t < nTables) {
      val planes = graft.ext.Similarity.hyperplanes(nPlanes, dim, t)
      var p = 0
      while (p < nPlanes) {
        System.arraycopy(planes(p), 0, out, o, dim); o += dim; p += 1
      }
      t += 1
    }
    out
  }

  private def sigsOf(v: Array[Double]): Array[Long] = {
    val planes = flatPlanes
    val sigs = new Array[Long](nTables)
    var off = 0
    var t = 0
    while (t < nTables) {
      var sig = 0L
      var p = 0
      while (p < nPlanes) {
        var dot = 0.0
        var j = 0
        while (j < dim) { dot += v(j) * planes(off + j); j += 1 }
        if (dot > 0) sig |= (1L << p)
        off += dim; p += 1
      }
      sigs(t) = sig; t += 1
    }
    sigs
  }

  override def nullSafeEval(input: Any): Any = {
    val a = input.asInstanceOf[ArrayData]
    if (a.numElements() != dim) throw new IllegalArgumentException(
      s"lsh_signatures: vector length ${a.numElements()} != dim $dim")
    val t = elemType
    val v = new Array[Double](dim)
    var i = 0
    while (i < dim) {
      v(i) = t match {
        case DoubleType => a.getDouble(i)
        case FloatType  => a.getFloat(i).toDouble
        case other => throw new IllegalArgumentException(s"unsupported element type $other")
      }
      i += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(sigsOf(v))
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a => {
      val getter = elemType match {
        case DoubleType => s"$a.getDouble(%s)"
        case FloatType  => s"(double) $a.getFloat(%s)"
        case other => throw new IllegalArgumentException(s"unsupported element type $other")
      }
      val planes = ctx.addReferenceObj("lshPlanes", flatPlanes, "double[]")
      val v = ctx.freshName("v"); val sigs = ctx.freshName("sigs")
      val off = ctx.freshName("off"); val t = ctx.freshName("t")
      val p = ctx.freshName("p"); val j = ctx.freshName("j")
      val dot = ctx.freshName("dot"); val sig = ctx.freshName("sig")
      s"""
         |if ($a.numElements() != $dim) {
         |  throw new IllegalArgumentException("lsh_signatures: vector length " +
         |    $a.numElements() + " != dim " + $dim);
         |}
         |double[] $v = new double[$dim];
         |for (int $j = 0; $j < $dim; $j++) { $v[$j] = ${getter.format(j)}; }
         |long[] $sigs = new long[$nTables];
         |int $off = 0;
         |for (int $t = 0; $t < $nTables; $t++) {
         |  long $sig = 0L;
         |  for (int $p = 0; $p < $nPlanes; $p++) {
         |    double $dot = 0.0;
         |    for (int $j = 0; $j < $dim; $j++) { $dot += $v[$j] * $planes[$off + $j]; }
         |    if ($dot > 0) $sig |= (1L << $p);
         |    $off += $dim;
         |  }
         |  $sigs[$t] = $sig;
         |}
         |${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData($sigs);
       """.stripMargin
    })

  override protected def withNewChildInternal(c: Expression): Expression =
    copy(child = c)
}

object VectorFunctions {

  /** Column-API entry points. Need a session to register against —
    * callers pass the DataFrame's own session. */
  def vec_dot(spark: SparkSession, a: Column, b: Column): Column = {
    Registry.ensure(spark); call_function("vec_dot", a, b)
  }

  def cosine_sim(spark: SparkSession, a: Column, b: Column): Column = {
    Registry.ensure(spark); call_function("cosine_sim", a, b)
  }

  /** array<long> of the vector's packed sign-signature per LSH table. */
  def lsh_signatures(spark: SparkSession, vec: Column,
                     nTables: Int, nPlanes: Int, dim: Int): Column = {
    Registry.ensure(spark)
    call_function("lsh_signatures", vec,
      org.apache.spark.sql.functions.lit(nTables),
      org.apache.spark.sql.functions.lit(nPlanes),
      org.apache.spark.sql.functions.lit(dim))
  }
}
