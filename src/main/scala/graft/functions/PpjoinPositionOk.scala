package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions.lit
import org.apache.spark.sql.types._

/** PPJoin position-filter bound (Xiao et al., "Efficient Similarity Joins
  * for Near Duplicate Detection", WWW'08) as one opaque codegen predicate —
  * the candidate-pruning test of [[graft.pipeline.AllPairs.jaccardPairs]].
  *
  * For sets with |a| = nsha, |b| = nshb sharing a prefix element at 0-based
  * sorted positions (pa, pb), the maximum possible overlap is
  * `1 + min(nsha − pa − 1, nshb − pb − 1)`; Jaccard ≥ t requires overlap
  * ≥ t/(1+t)·(nsha+nshb). Verification admits round6(j) ≥ t (true
  * j ≥ t − 5e-7), so the test runs against that effective threshold with a
  * 1e-9 double-rounding slack — both relaxations only ADMIT candidates;
  * the exact merge-intersection decides membership.
  *
  * Deliberately ONE expression instead of the equivalent column arithmetic:
  * spelled out as `cast(least(..)+1)+ε >= t·(na+nb)/(1+t)` inside a join
  * condition, Catalyst's constraint propagation / canonicalization over the
  * large comparison tree cost ~4 s of planning per query build (measured at
  * sf0.1, round 20). As a single predicate it contributes one small
  * constraint and compiles to a static call ([[GraftFunctions.kernel]]);
  * a null argument gives null.
  */
object PpjoinPositionOk {
  def ok(nsha: Int, pa: Int, nshb: Int, pb: Int, tEff: Double): Boolean =
    (1 + math.min(nsha - pa - 1, nshb - pb - 1)).toDouble + 1e-9 >=
      tEff * (nsha + nshb) / (1.0 + tEff)

  def apply(nsha: Column, pa: Column, nshb: Column, pb: Column,
            threshold: Double): Column =
    GraftFunctions.kernel(this, "ok", BooleanType,
      Seq(nsha -> IntegerType, pa -> IntegerType, nshb -> IntegerType,
        pb -> IntegerType, lit(threshold - 5e-7) -> DoubleType))
}
