package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.functions.lit
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Word-n-gram kernels, each one static-call pass inside whole-stage
  * codegen ([[GraftFunctions.kernel]]). They compute the values of the
  * composable builder `transform(sequence(0, L−n), i -> concat_ws(" ",
  * toks[i+1..i+n]))` (pinned in KernelEquivalenceSpec) without its
  * interpreted lambda per gram window:
  *
  *  - [[WordNgrams]]: the gram STRINGS — byte-identical to
  *    `concat_ws(" ", ...)` including its null-skipping (a null token
  *    contributes neither bytes nor a separator), with `L < n → empty
  *    array` (the old `when(size < n)` guard folded in) and optional
  *    `array_distinct` semantics (first-occurrence order, binary equality).
  *  - [[NgramFnv]]: the FNV-1a-64 hashes of the DISTINCT gram strings,
  *    folding [[FnvHash.hashUtf8]] over each window's token bytes with the
  *    single 0x20 separator byte between non-null tokens — bit-equal to
  *    `transform(array_distinct(grams), fnv_hash)` without ever
  *    materializing a gram string. Distinctness is by the 64-bit hash
  *    value: identical grams always hash equal, and two DISTINCT grams of
  *    one document colliding (≈ g²/2⁶⁵ per doc) is the same
  *    never-observable event the hashed-shingle design already accepts
  *    (see [[graft.pipeline.DedupQueries.shingled]]).
  *  - [[FnvHashArray]]: elementwise [[FnvHash]] over an array<string> —
  *    `transform(toks, fnv_hash)` without the interpreted lambda (the
  *    SimHash feature-hash pass).
  */
object NgramKernels {

  /** The gram kernels' result for a NULL token array, and for L < n: the
    * composite ran under the engine's `ansi=false` sessions where legacy
    * `size(null)` is −1, so its `when(size(toks) < n, ...)` guard mapped a
    * NULL token array to an EMPTY gram array (never null) — these kernels
    * must do the same or null-text rows flip the oracle hash
    * (q_text_repetition's per-window fractions read 0.0 off the empty
    * array). */
  private val EmptyArray = new GenericArrayData(new Array[Any](0))

  /** Exact `concat_ws(" ", window)` grams; `distinct` keeps first
    * occurrences (array_distinct semantics). A null input or L < n yields
    * an empty array. */
  def grams(a: ArrayData, n: Int, distinct: Boolean): ArrayData = {
    if (a == null || a.numElements() < n) return EmptyArray
    val len = a.numElements()
    val toks = new Array[UTF8String](len)
    var i = 0
    while (i < len) {
      if (!a.isNullAt(i)) toks(i) = a.getUTF8String(i)
      i += 1
    }
    val count = len - n + 1
    val space = UTF8String.fromString(" ")
    val window = new Array[UTF8String](n)
    if (!distinct) {
      val out = new Array[Any](count)
      i = 0
      while (i < count) {
        var k = 0
        while (k < n) { window(k) = toks(i + k); k += 1 }
        // UTF8String.concatWs skips null inputs — concat_ws semantics
        out(i) = UTF8String.concatWs(space, window: _*)
        i += 1
      }
      new GenericArrayData(out)
    } else {
      val seen = new java.util.LinkedHashSet[UTF8String](count * 2)
      i = 0
      while (i < count) {
        var k = 0
        while (k < n) { window(k) = toks(i + k); k += 1 }
        seen.add(UTF8String.concatWs(space, window: _*))
        i += 1
      }
      new GenericArrayData(seen.toArray(new Array[AnyRef](seen.size))
        .asInstanceOf[Array[Any]])
    }
  }

  /** FNV-1a-64 of each distinct gram's `concat_ws(" ", window)` bytes,
    * first-occurrence order, computed without building the gram string:
    * the fold walks each non-null token's UTF-8 bytes with one 0x20
    * separator byte between consecutive non-null tokens (an all-null
    * window hashes like the empty string — the FNV basis). A null input or
    * L < n yields an empty array. */
  def gramFnv(a: ArrayData, n: Int): ArrayData = {
    if (a == null || a.numElements() < n) return EmptyArray
    val len = a.numElements()
    val toks = new Array[Array[Byte]](len)
    var i = 0
    while (i < len) {
      if (!a.isNullAt(i)) toks(i) = a.getUTF8String(i).getBytes
      i += 1
    }
    val count = len - n + 1
    val seen = new java.util.HashSet[java.lang.Long](count * 2)
    val out = new Array[Long](count)
    var m = 0
    i = 0
    while (i < count) {
      var h = FnvHash.Basis
      var first = true
      var k = i
      val end = i + n
      while (k < end) {
        val tb = toks(k)
        if (tb != null) {
          if (!first) h = (h ^ 0x20L) * FnvHash.Prime
          var j = 0
          while (j < tb.length) {
            h = (h ^ (tb(j) & 0xffL)) * FnvHash.Prime
            j += 1
          }
          first = false
        }
        k += 1
      }
      if (seen.add(h)) { out(m) = h; m += 1 }
      i += 1
    }
    new GenericArrayData(if (m == count) out else java.util.Arrays.copyOf(out, m))
  }

  /** Elementwise FNV-1a-64 over an array<string>; null elements stay null
    * (fnv_hash is null-intolerant per element, same as the transform). */
  def fnvArray(a: ArrayData): ArrayData = {
    val len = a.numElements()
    var hasNull = false
    var i = 0
    while (i < len && !hasNull) { hasNull = a.isNullAt(i); i += 1 }
    if (!hasNull) {
      val out = new Array[Long](len)
      i = 0
      while (i < len) {
        out(i) = FnvHash.hashUtf8(a.getUTF8String(i))
        i += 1
      }
      new GenericArrayData(out)
    } else {
      val out = new Array[Any](len)
      i = 0
      while (i < len) {
        if (!a.isNullAt(i)) out(i) = FnvHash.hashUtf8(a.getUTF8String(i))
        i += 1
      }
      new GenericArrayData(out)
    }
  }
}

/** word_ngrams(array<string>, n, distinct) → array<string>; a null token
  * array yields the EMPTY gram array (see [[NgramKernels.grams]]). */
object WordNgrams {
  def apply(toks: Column, n: Int, distinct: Boolean): Column = {
    require(n >= 1, s"word_ngrams: n must be >= 1, got $n")
    GraftFunctions.kernel(NgramKernels, "grams",
      ArrayType(StringType, containsNull = false),
      Seq(toks -> ArrayType(StringType), lit(n) -> IntegerType,
        lit(distinct) -> BooleanType), nullIn = true)
  }
}

/** ngram_fnv(array<string>, n) → array<bigint> (distinct gram hashes,
  * first-occurrence order); null token array → empty, like [[WordNgrams]]. */
object NgramFnv {
  def apply(toks: Column, n: Int): Column = {
    require(n >= 1, s"ngram_fnv: n must be >= 1, got $n")
    GraftFunctions.kernel(NgramKernels, "gramFnv",
      ArrayType(LongType, containsNull = false),
      Seq(toks -> ArrayType(StringType), lit(n) -> IntegerType), nullIn = true)
  }
}

/** fnv_hash_array(array<string>) → array<bigint> (elementwise fnv_hash;
  * null array → null). */
object FnvHashArray {
  def apply(c: Column): Column =
    GraftFunctions.kernel(NgramKernels, "fnvArray", ArrayType(LongType),
      Seq(c -> ArrayType(StringType)))
}
