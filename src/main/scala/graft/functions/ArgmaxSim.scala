package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._

/** Codegen'd argmax-cosine assignment kernel (round 21) — the per-row
  * nearest-centroid step of the k-means and IVF tiers, replacing
  *
  * {{{ array_max(transform(cents, c => struct(sim, -id, id))) }}}
  *
  * which paid, per row: an interpreted lambda dispatch per centroid (HOFs
  * are CodegenFallback), one ordering-struct allocation per centroid, and —
  * in the IVF form, which had no precomputed norm columns — a re-computed
  * `sqrt(dot(emb, emb))` per centroid and `sqrt(dot(centroid, centroid))`
  * per (row, centroid) pair. This expression runs one static call inside
  * whole-stage codegen: the row norm is computed ONCE per row, centroid
  * norms arrive precomputed in the broadcast struct, and the comparison
  * loop allocates nothing.
  *
  * Exact semantics of the replaced composite (pinned in KernelEquivalenceSpec
  * against the literal old construction):
  *
  *  - sim = dot(emb, centroid) / (sqrt(dot(emb, emb)) * cnorm), the same
  *    index-order double arithmetic ([[VectorOps.dotF]]/[[VectorOps.dotDbl]]),
  *    optionally rounded with Spark's `round(x, 6)` double semantics
  *    (NaN/Infinity pass through, else shortest-decimal BigDecimal HALF_UP);
  *  - the winner maximizes struct(sim, −id, id) under Spark's struct
  *    ordering: doubles by total order (NaN greatest, −0.0 < 0.0), null sim
  *    below every non-null, ties on sim break toward the LOWEST id (id
  *    descending is compared without the `-id` negation, so the kernel is
  *    also safe at Long.MinValue where the negation trick overflows);
  *  - a null `emb` yields null sims for every centroid, so the winner is
  *    the lowest id with a null sim (the old struct compare's behavior);
  *  - an empty or null centroid array yields a null result (array_max of
  *    an empty array).
  *
  * Returns struct(sim: double, id: bigint); callers project the fields.
  */
object ArgmaxSim {

  /** Spark `round(x, 6)` for doubles: NaN and ±Infinity pass through
    * (RoundBase's guard), else shortest-decimal BigDecimal HALF_UP. */
  def round6(v: Double): Double =
    if (java.lang.Double.isNaN(v) || java.lang.Double.isInfinite(v)) v
    else java.math.BigDecimal.valueOf(v)
      .setScale(6, java.math.RoundingMode.HALF_UP).doubleValue()

  /** `emb` may be null (null sims, lowest id wins); `cents` must be
    * non-null (the expression handles null), empty → null. Struct fields
    * by POSITION: (id: long, centroid: array, cnorm: double). */
  def argmax(emb: ArrayData, cents: ArrayData,
             doubleElems: Boolean, roundTo6: Boolean): InternalRow = {
    val n = cents.numElements()
    if (n == 0) return null
    var vnorm = 0.0
    if (emb != null) {
      vnorm = math.sqrt(
        if (doubleElems) VectorOps.dotDbl(emb, emb)
        else VectorOps.dotF(emb, emb))
    }
    var has = false
    var bestSimNull = true; var bestSim = 0.0
    var bestIdNull = true; var bestId = 0L
    var i = 0
    while (i < n) {
      var simNull = true; var sim = 0.0
      var idNull = true; var id = 0L
      if (!cents.isNullAt(i)) {
        val st = cents.getStruct(i, 3)
        if (!st.isNullAt(0)) { id = st.getLong(0); idNull = false }
        if (emb != null && !st.isNullAt(1) && !st.isNullAt(2)) {
          val cent = st.getArray(1)
          // Spark's non-ANSI Divide returns NULL on a ZERO divisor (for
          // doubles too — this is what the old composite produced for a
          // zero-norm centroid or zero-norm vector, and why "null sim"
          // ordering exists at all); a NaN divisor still divides to NaN.
          val den = vnorm * st.getDouble(2)
          if (den != 0.0) {
            val d =
              if (doubleElems) VectorOps.dotDbl(emb, cent)
              else VectorOps.dotF(emb, cent)
            sim = d / den
            if (roundTo6) sim = round6(sim)
            simNull = false
          }
        }
      }
      // struct(sim, -id, id) max under null-first ascending field order:
      // candidate beats best iff compare > 0
      var cmp =
        if (simNull && bestSimNull) 0
        else if (simNull) -1
        else if (bestSimNull) 1
        else java.lang.Double.compare(sim, bestSim)
      if (cmp == 0) {
        // tie field -id: max(-id) == min(id); compare without negating so
        // Long.MinValue cannot overflow
        cmp =
          if (idNull && bestIdNull) 0
          else if (idNull) -1
          else if (bestIdNull) 1
          else java.lang.Long.compare(bestId, id)
      }
      if (!has || cmp > 0) {
        has = true
        bestSimNull = simNull; bestSim = sim
        bestIdNull = idNull; bestId = id
      }
      i += 1
    }
    new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
      Array[Any](
        if (bestSimNull) null else java.lang.Double.valueOf(bestSim),
        if (bestIdNull) null else java.lang.Long.valueOf(bestId)))
  }

  def apply(emb: Column, cents: Column, roundTo6: Boolean): Column =
    org.apache.spark.sql.graft.ColumnBridge.column(
      ArgmaxSimExpression(
        org.apache.spark.sql.graft.ColumnBridge.expression(emb),
        org.apache.spark.sql.graft.ColumnBridge.expression(cents),
        roundTo6))
}

/** argmax_sim(array<float|double>, array<struct<id, centroid, cnorm>>) →
  * struct<sim: double, id: bigint>. */
case class ArgmaxSimExpression(left: Expression, right: Expression,
                               roundTo6: Boolean)
    extends BinaryExpression {

  private def doubleElems: Boolean = left.dataType match {
    case ArrayType(DoubleType, _) => true
    case _ => false
  }

  override def dataType: DataType = StructType(Seq(
    StructField("sim", DoubleType, nullable = true),
    StructField("id", LongType, nullable = true)))

  override def nullable: Boolean = true

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    val elem = left.dataType match {
      case ArrayType(FloatType, _) => Some(FloatType)
      case ArrayType(DoubleType, _) => Some(DoubleType)
      case _ => None
    }
    (elem, right.dataType) match {
      case (Some(e), ArrayType(StructType(Array(
          StructField(_, LongType, _, _),
          StructField(_, ArrayType(ce, _), _, _),
          StructField(_, DoubleType, _, _))), _)) if ce == e =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"argmax_sim expects (array<float|double>, array<struct<id: " +
            s"bigint, centroid: array<same elem>, cnorm: double>>), got " +
            s"(${left.dataType}, ${right.dataType})")
    }
  }

  override def eval(input: InternalRow): Any = {
    val c = right.eval(input)
    if (c == null) null
    else {
      val e = left.eval(input)
      ArgmaxSim.argmax(
        if (e == null) null else e.asInstanceOf[ArrayData],
        c.asInstanceOf[ArrayData], doubleElems, roundTo6)
    }
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val embGen = left.genCode(ctx)
    val centsGen = right.genCode(ctx)
    val resultCode =
      s"""InternalRow ${ev.value} = null;
         |boolean ${ev.isNull} = true;
         |if (!${centsGen.isNull}) {
         |  ${ev.value} = graft.functions.ArgmaxSim.argmax(
         |    ${embGen.isNull} ? null : ${embGen.value},
         |    ${centsGen.value}, $doubleElems, $roundTo6);
         |  ${ev.isNull} = ${ev.value} == null;
         |}""".stripMargin
    ev.copy(code = embGen.code + centsGen.code + code"$resultCode")
  }

  override protected def withNewChildrenInternal(l: Expression, r: Expression): ArgmaxSimExpression =
    copy(left = l, right = r)
  override def prettyName: String = "argmax_sim"
}
