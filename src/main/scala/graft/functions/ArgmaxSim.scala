package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.functions.lit
import org.apache.spark.sql.types._

/** Argmax-cosine assignment kernel: the per-row nearest-centroid step of
  * the k-means and IVF tiers and the streaming router, one static call
  * inside whole-stage codegen ([[GraftFunctions.kernel]]). The row norm is
  * computed once per row, centroid norms arrive precomputed in the
  * broadcast struct, and the comparison loop allocates nothing.
  *
  * Semantics are those of
  *
  * {{{ array_max(transform(cents, c => struct(sim, -id, id))) }}}
  *
  * pinned in ArgmaxSimSpec against that literal construction:
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
  *    the lowest id with a null sim;
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

  /** `emb` may be null (null sims, lowest id wins); null or empty `cents`
    * → null. Struct fields by POSITION: (id: long, centroid: array,
    * cnorm: double). */
  def argmax(emb: ArrayData, cents: ArrayData,
             doubleElems: Boolean, roundTo6: Boolean): InternalRow = {
    if (cents == null) return null
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
          // doubles too — this is what the composite produces for a
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

  private val Result = StructType(Seq(
    StructField("sim", DoubleType, nullable = true),
    StructField("id", LongType, nullable = true)))

  /** `argmax_sim(emb, cents)`; `doubleElems` says whether `emb` and the
    * centroids are double arrays (k-means, streaming router) or float
    * arrays (IVF). */
  def apply(emb: Column, cents: Column, doubleElems: Boolean,
            roundTo6: Boolean): Column = {
    val vec = ArrayType(if (doubleElems) DoubleType else FloatType)
    val centroids = ArrayType(StructType(Seq(StructField("id", LongType),
      StructField("centroid", vec), StructField("cnorm", DoubleType))))
    GraftFunctions.kernel(this, "argmax", Result,
      Seq(emb -> vec, cents -> centroids,
        lit(doubleElems) -> BooleanType, lit(roundTo6) -> BooleanType),
      nullIn = true, nullOut = true)
  }
}
