package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Winnowing document fingerprints (Schleimer, Wilkerson, Aiken —
  * "Winnowing: Local Algorithms for Document Fingerprinting", SIGMOD'03;
  * the MOSS algorithm).
  *
  * A Rabin–Karp ROLLING hash runs over the text's byte k-grams (k = 8,
  * base 263, modulus 2³¹−1: one subtract-multiply-add per byte, not a
  * rehash of each k-gram), then every window of `w` = 4 consecutive hashes
  * contributes its minimum. The distinct selected minima are the
  * document's fingerprint set — the guarantee is that any shared substring
  * of length ≥ k+w−1 yields at least one shared fingerprint, which is what
  * makes the set a sound local-similarity index (overlap detection without
  * positions, robust to insertions far from the match).
  *
  * Single codegen'd pass ([[GraftFunctions.kernel]]), O(n) via a
  * monotonic-deque window minimum; the
  * output is the SORTED distinct fingerprint array, a canonical form both
  * engines can produce independently (selection ties pick identical VALUE
  * sets whatever position rule is used, so the value-set output needs no
  * tie convention). Texts shorter than k emit an empty set; texts with
  * fewer than w k-grams emit the single global minimum (the degenerate
  * one-window case).
  */
object Winnow {
  final val K = 8
  final val W = 4
  final val Base = 263L
  final val Mod = 2147483647L // 2^31-1: base*Mod + 255 stays far under 2^63

  /** basePowKm1 = Base^(K-1) mod Mod, the roll-out multiplier. */
  private final val RollOut: Long = {
    var p = 1L
    var i = 0
    while (i < K - 1) { p = (p * Base) % Mod; i += 1 }
    p
  }

  def fingerprints(s: UTF8String): ArrayData = {
    val bytes = s.getBytes
    val n = bytes.length
    if (n < K) return new GenericArrayData(Array.emptyLongArray)
    val m = n - K + 1
    val hs = new Array[Long](m)
    var h = 0L
    var i = 0
    while (i < K) { h = (h * Base + (bytes(i) & 0xffL)) % Mod; i += 1 }
    hs(0) = h
    i = K
    while (i < n) {
      h = ((h - (bytes(i - K) & 0xffL) * RollOut % Mod + Mod) % Mod * Base +
        (bytes(i) & 0xffL)) % Mod
      hs(i - K + 1) = h
      i += 1
    }
    val selected = new java.util.TreeSet[java.lang.Long]()
    if (m <= W) {
      var mn = hs(0)
      var j = 1
      while (j < m) { if (hs(j) < mn) mn = hs(j); j += 1 }
      selected.add(mn)
    } else {
      // Monotonic deque of indices: front is the current window minimum.
      val deque = new Array[Int](m)
      var head = 0
      var tail = 0 // exclusive
      var j = 0
      while (j < m) {
        while (tail > head && hs(deque(tail - 1)) >= hs(j)) tail -= 1
        deque(tail) = j; tail += 1
        if (deque(head) <= j - W) head += 1
        if (j >= W - 1) selected.add(hs(deque(head)))
        j += 1
      }
    }
    val out = new Array[Long](selected.size)
    val it = selected.iterator()
    var o = 0
    while (it.hasNext) { out(o) = it.next(); o += 1 }
    new GenericArrayData(out)
  }

  /** winnow(string) → array<bigint>: sorted distinct winnowing
    * fingerprints; null in, null out. */
  def apply(c: Column): Column =
    GraftFunctions.kernel(this, "fingerprints",
      ArrayType(LongType, containsNull = false), Seq(c -> StringType))
}
