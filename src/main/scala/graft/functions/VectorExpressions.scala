package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.GraftSqlBridge.{column, expression}
import org.apache.spark.sql.types.{DataType, DoubleType, FloatType}

/** Native Catalyst expressions for embedding math. The higher-order
  * `zip_with`/`aggregate` forms are interpreted per element (lambda
  * dispatch per multiply); these run a tight primitive loop and
  * participate in whole-stage codegen, which is the difference between
  * an interpreted and a compiled inner loop over 100 TB of vectors.
  * Double accumulation in index order — bit-identical to the
  * left-fold higher-order form the DuckDB oracle mirrors.
  */
abstract class FloatVectorBinary extends BinaryExpression {
  override def dataType: DataType = DoubleType
  override def nullable: Boolean = left.nullable || right.nullable

  protected def elemDouble(arr: ArrayData, i: Int, elemType: DataType): Double =
    elemType match {
      case FloatType => arr.getFloat(i).toDouble
      case DoubleType => arr.getDouble(i)
      case other => throw new IllegalArgumentException(s"unsupported element type $other")
    }

  protected def elemType(e: Expression): DataType =
    e.dataType.asInstanceOf[org.apache.spark.sql.types.ArrayType].elementType

  /** Java accessor snippet for one element as double. */
  protected def genGet(arr: String, i: String, t: DataType): String = t match {
    case FloatType => s"(double) $arr.getFloat($i)"
    case DoubleType => s"$arr.getDouble($i)"
    case other => throw new IllegalArgumentException(s"unsupported element type $other")
  }
}

/** dot(a, b) = Σ a_i · b_i over min(len) elements. */
case class DotProduct(left: Expression, right: Expression) extends FloatVectorBinary {
  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]; val y = b.asInstanceOf[ArrayData]
    val lt = elemType(left); val rt = elemType(right)
    val n = math.min(x.numElements(), y.numElements())
    var acc = 0.0
    var i = 0
    while (i < n) { acc += elemDouble(x, i, lt) * elemDouble(y, i, rt); i += 1 }
    acc
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (x, y) => {
      val n = ctx.freshName("n"); val i = ctx.freshName("i"); val acc = ctx.freshName("acc")
      s"""
         |int $n = java.lang.Math.min($x.numElements(), $y.numElements());
         |double $acc = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  $acc += ${genGet(x, i, elemType(left))} * ${genGet(y, i, elemType(right))};
         |}
         |${ev.value} = $acc;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(l: Expression, r: Expression) = copy(l, r)
}

/** cosine(a, b) = dot / (‖a‖·‖b‖), accumulated in index order. */
case class CosineSim(left: Expression, right: Expression) extends FloatVectorBinary {
  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]; val y = b.asInstanceOf[ArrayData]
    val lt = elemType(left); val rt = elemType(right)
    val n = math.min(x.numElements(), y.numElements())
    var dot = 0.0; var na = 0.0; var nb = 0.0
    var i = 0
    while (i < n) {
      val xv = elemDouble(x, i, lt); val yv = elemDouble(y, i, rt)
      dot += xv * yv; na += xv * xv; nb += yv * yv
      i += 1
    }
    dot / (math.sqrt(na) * math.sqrt(nb))
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (x, y) => {
      val n = ctx.freshName("n"); val i = ctx.freshName("i")
      val dot = ctx.freshName("dot"); val na = ctx.freshName("na"); val nb = ctx.freshName("nb")
      val xv = ctx.freshName("xv"); val yv = ctx.freshName("yv")
      s"""
         |int $n = java.lang.Math.min($x.numElements(), $y.numElements());
         |double $dot = 0.0; double $na = 0.0; double $nb = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  double $xv = ${genGet(x, i, elemType(left))};
         |  double $yv = ${genGet(y, i, elemType(right))};
         |  $dot += $xv * $yv; $na += $xv * $xv; $nb += $yv * $yv;
         |}
         |${ev.value} = $dot / (java.lang.Math.sqrt($na) * java.lang.Math.sqrt($nb));
       """.stripMargin
    })

  override protected def withNewChildrenInternal(l: Expression, r: Expression) = copy(l, r)
}

/** The full banded-LSH signature — array of (band_id, bv) structs —
  * in ONE expression: band b's bit k is sign(emb · planes[k·bands+b]).
  * The unrolled when-chain form (rows·bands DotProduct sub-expressions,
  * each with a 64-double literal) exceeds janino's method/constant
  * limits past ~120 planes (measured: InternalCompilerException at
  * r = 17 × B = 9 → whole-stage codegen falls back to interpreted for
  * the entire projection). Here the planes ride as ONE reference
  * object and the codegen emits a single static call, so the stage
  * stays compiled at ANY (rows, bands) — the post-2^21 corpus sizes
  * where the adaptive banding grows are exactly where the signature
  * pass must stay a tight loop. Accumulation order matches
  * [[DotProduct]] (ascending index), so results are bit-identical to
  * the when-chain form at every scale.
  */
case class BandedSignature(
    child: Expression,
    planes: Array[Array[Double]], // row-major: plane j = k·bands + b
    rows: Int,
    bands: Int) extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {
  import org.apache.spark.sql.types._

  override def dataType: DataType = ArrayType(StructType(Seq(
    StructField("band_id", IntegerType, nullable = false),
    StructField("bv", LongType, nullable = false))), containsNull = false)
  override def nullable: Boolean = child.nullable

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case ArrayType(FloatType | DoubleType, _) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other => org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"banded_sig requires array<float|double>, got $other")
    }

  private def isFloat: Boolean =
    child.dataType.asInstanceOf[ArrayType].elementType == FloatType

  override def nullSafeEval(v: Any): Any =
    BandedSignature.compute(v.asInstanceOf[ArrayData], planes, rows, bands, isFloat)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val planesRef = ctx.addReferenceObj("planes", planes, "double[][]")
    nullSafeCodeGen(ctx, ev, v =>
      s"${ev.value} = graft.functions.BandedSignature.compute(" +
        s"$v, $planesRef, $rows, $bands, $isFloat);")
  }

  override protected def withNewChildInternal(c: Expression) = copy(child = c)
}

object BandedSignature {
  import org.apache.spark.sql.catalyst.InternalRow
  import org.apache.spark.sql.catalyst.util.GenericArrayData

  /** Shared by eval and the codegen'd call — one JIT-compiled loop. */
  def compute(emb: ArrayData, planes: Array[Array[Double]],
      rows: Int, bands: Int, isFloat: Boolean): ArrayData = {
    val out = new Array[Any](bands)
    var b = 0
    while (b < bands) {
      var bv = 0L
      var k = 0
      while (k < rows) {
        val p = planes(k * bands + b)
        val n = math.min(emb.numElements(), p.length)
        var acc = 0.0
        var i = 0
        while (i < n) {
          acc += (if (isFloat) emb.getFloat(i).toDouble else emb.getDouble(i)) * p(i)
          i += 1
        }
        if (acc > 0) bv |= (1L << k)
        k += 1
      }
      out(b) = InternalRow(b, bv)
      b += 1
    }
    new GenericArrayData(out)
  }
}

object VectorExpressions {
  def dot(a: Column, b: Column): Column = column(DotProduct(expression(a), expression(b)))
  def cosineFast(a: Column, b: Column): Column = column(CosineSim(expression(a), expression(b)))

  def bandedSig(emb: Column, planes: Array[Array[Double]],
      rows: Int, bands: Int): Column =
    column(BandedSignature(expression(emb), planes, rows, bands))
}
