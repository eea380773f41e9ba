package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.functions.lit
import org.apache.spark.sql.types._

/** LSH band hashes: the per-band `xxhash64` keys of a MinHash signature in
  * one static call inside whole-stage codegen ([[GraftFunctions.kernel]]);
  * a null signature gives null.
  *
  * Values equal `transform(sequence(0, bands−1), bnd => xxhash64(element_at
  * (sig, bnd·rows+1), ..., element_at(sig, bnd·rows+rows)))` (pinned in
  * KernelEquivalenceSpec): Spark's `xxhash64(c1..c4)` is a LEFT FOLD of
  * `XXH64.hashLong(value, acc)` from seed 42, skipping null inputs — the
  * exact loop below (out-of-range lanes behave like element_at's null:
  * skipped). */
object BandHashes {
  private val Seed = 42L // XxHash64's default seed, what xxhash64(...) uses

  def eval(sig: ArrayData, bands: Int, rowsPerBand: Int): ArrayData = {
    val n = sig.numElements()
    val out = new Array[Long](bands)
    var b = 0
    while (b < bands) {
      var h = Seed
      var r = 0
      while (r < rowsPerBand) {
        val idx = b * rowsPerBand + r
        if (idx < n && !sig.isNullAt(idx))
          h = org.apache.spark.sql.catalyst.expressions.XXH64
            .hashLong(sig.getLong(idx), h)
        r += 1
      }
      out(b) = h
      b += 1
    }
    new GenericArrayData(out)
  }

  def apply(sig: Column, bands: Int, rowsPerBand: Int): Column = {
    require(bands >= 1 && rowsPerBand >= 1,
      s"band_hashes: bands=$bands rowsPerBand=$rowsPerBand must be positive")
    GraftFunctions.kernel(this, "eval", ArrayType(LongType, containsNull = false),
      Seq(sig -> ArrayType(LongType), lit(bands) -> IntegerType,
        lit(rowsPerBand) -> IntegerType))
  }
}
