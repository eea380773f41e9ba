package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._

/** Kernels of the int8 quantization tier — the two passes of
  * [[graft.pipeline.SimilarityQueries.int8Quantized]] as static calls
  * inside whole-stage codegen (values pinned in KernelEquivalenceSpec):
  *
  *  - [[AbsMax]]: `array_max(transform(emb, x => abs(cast(x as double))))`
  *    — max |xᵢ| as double, null elements skipped (array_max semantics),
  *    all-null/empty → null, NaN greatest (Spark's double total order).
  *  - [[Int8Quantize]]: `transform(emb, x => floor(cast(x as double) / s
  *    + 0.5))` — per element: Spark's non-ANSI Divide yields NULL on a
  *    zero divisor (s > 0 is guarded upstream, but the semantics are
  *    preserved anyway), else `Math.floor(x / s + 0.5).toLong` exactly
  *    like Spark's `floor(double) → bigint`; null elements stay null.
  */
object QuantKernels {

  def absMax(a: ArrayData): Any = {
    val n = a.numElements()
    var has = false
    var best = 0.0
    var i = 0
    while (i < n) {
      if (!a.isNullAt(i)) {
        val v = math.abs(a.getFloat(i).toDouble)
        // array_max's double ordering: total order, NaN greatest
        if (!has || java.lang.Double.compare(v, best) > 0) { best = v; has = true }
      }
      i += 1
    }
    if (has) java.lang.Double.valueOf(best) else null
  }

  def quantize(a: ArrayData, s: Double): ArrayData = {
    val n = a.numElements()
    if (s == 0.0) {
      // Divide-by-zero -> null per element (non-ANSI Divide semantics)
      return new GenericArrayData(new Array[Any](n))
    }
    var hasNull = false
    var i = 0
    while (i < n && !hasNull) { hasNull = a.isNullAt(i); i += 1 }
    if (!hasNull) {
      val out = new Array[Long](n)
      i = 0
      while (i < n) {
        out(i) = math.floor(a.getFloat(i).toDouble / s + 0.5).toLong
        i += 1
      }
      new GenericArrayData(out)
    } else {
      val out = new Array[Any](n)
      i = 0
      while (i < n) {
        if (!a.isNullAt(i))
          out(i) = java.lang.Long.valueOf(
            math.floor(a.getFloat(i).toDouble / s + 0.5).toLong)
        i += 1
      }
      new GenericArrayData(out)
    }
  }
}

/** abs_max(array<float>) → double (null for empty/all-null). A class of
  * its own, not a [[GraftFunctions.kernel]]: the result is a primitive
  * double that is null for some non-null inputs, which `StaticInvoke`
  * cannot return. */
case class AbsMaxExpression(child: Expression) extends UnaryExpression {
  override def dataType: DataType = DoubleType

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case ArrayType(FloatType, _) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"abs_max expects array<float>, got $other")
    }

  override protected def nullSafeEval(v: Any): Any =
    QuantKernels.absMax(v.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val childGen = child.genCode(ctx)
    import org.apache.spark.sql.catalyst.expressions.codegen.Block._
    val resultCode =
      s"""boolean ${ev.isNull} = true;
         |double ${ev.value} = 0.0;
         |if (!${childGen.isNull}) {
         |  Object r = graft.functions.QuantKernels.absMax(${childGen.value});
         |  if (r != null) { ${ev.isNull} = false; ${ev.value} = ((Double) r).doubleValue(); }
         |}""".stripMargin
    ev.copy(code = childGen.code + code"$resultCode")
  }

  override protected def withNewChildInternal(newChild: Expression): AbsMaxExpression =
    copy(child = newChild)
  override def prettyName: String = "abs_max"
}

object AbsMax {
  def apply(c: Column): Column =
    org.apache.spark.sql.graft.ColumnBridge.column(
      AbsMaxExpression(org.apache.spark.sql.graft.ColumnBridge.expression(c)))
}

/** int8_quantize(array<float>, s: double) → array<bigint>; null in, null
  * out. */
object Int8Quantize {
  def apply(emb: Column, s: Column): Column =
    GraftFunctions.kernel(QuantKernels, "quantize", ArrayType(LongType),
      Seq(emb -> ArrayType(FloatType), s -> DoubleType))
}
