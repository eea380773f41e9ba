package graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Each codegen kernel must be value-identical to the composite it replaced,
  * including the edges the oracle corpus may not exercise: null arrays,
  * null elements, inputs shorter than n, duplicates, non-ASCII text. The
  * queries that consume them are oracle-covered end to end on top of this.
  *
  *  - [[graft.functions.TopRunFrac]] — the max-multiplicity fraction that
  *    replaced the sorted longest-run fold in q_text_repetition;
  *  - [[graft.functions.PpjoinPositionOk]] — the PPJoin position-filter
  *    bound that prunes candidates in AllPairs.jaccardPairs, which must
  *    never reject a pair the verifier keeps;
  *  - the n-gram, hashing, set-hit and int8 kernels
  *    ([[graft.functions.NgramKernels]]) against the
  *    `transform(sequence(...), ...)` builders they replaced.
  */
class KernelEquivalenceSpec extends SparkSpec {

  test("TopRunFrac matches the sorted longest-equal-run fold semantics") {
    import spark.implicits._
    val rows = Seq(
      Seq("a", "b", "a", "c", "a"), // top multiplicity 3/5
      Seq("x"),                     // single element -> 1/1
      Seq("q", "q", "q"),           // all equal -> 1.0
      Seq.empty[String]             // empty -> 0.0
    ).toDF("g")
    // reference: the sorted fold the kernel replaced
    def oldTopFrac(g: org.apache.spark.sql.Column) = {
      val best = aggregate(
        array_sort(g),
        struct(lit("").as("prev"), lit(0L).as("run"), lit(0L).as("best")),
        (acc, x) => {
          val newRun = when(acc.getField("prev") === x, acc.getField("run") + 1L)
            .otherwise(lit(1L))
          struct(x.as("prev"), newRun.as("run"),
                 greatest(acc.getField("best"), newRun).as("best"))
        },
        acc => acc.getField("best"))
      when(size(g) === 0, lit(0.0)).otherwise(best.cast("double") / size(g))
    }
    val got = rows.select(
      graft.functions.TopRunFrac(col("g")).as("nw"),
      oldTopFrac(col("g")).as("old")).collect()
    got.foreach(r => assert(r.getDouble(0) == r.getDouble(1),
      s"kernel ${r.getDouble(0)} != fold ${r.getDouble(1)}"))
    // null input -> null (the old when/otherwise chain also yielded null)
    val nullRow = Seq(Tuple1[Seq[String]](null)).toDF("g")
      .select(graft.functions.TopRunFrac(col("g"))).collect()
    assert(nullRow.head.isNullAt(0))
  }

  test("PpjoinPositionOk never rejects a pair the verifier would keep") {
    // exhaustive small-universe check: all set pairs over universe 0..7,
    // sizes 3..6; for every pair with round6(jaccard) >= t the bound must
    // pass at the pair's FIRST common element's positions.
    for (t <- Seq(0.2, 0.5, 0.8)) {
      val sets = (0 to 7).toSet.subsets.filter(s => s.size >= 3 && s.size <= 6)
        .map(_.toSeq.sorted).toSeq
      for (a <- sets; b <- sets) {
        val inter = a.intersect(b)
        if (inter.nonEmpty) {
          val j = inter.size.toDouble / (a.size + b.size - inter.size)
          if (graft.pipeline.AllPairs.round6(j) >= t) {
            val c = inter.min
            val pa = a.indexOf(c); val pb = b.indexOf(c)
            assert(graft.functions.PpjoinPositionOk.ok(
              a.size, pa, b.size, pb, t - 5e-7),
              s"t=$t a=$a b=$b j=$j rejected at first common element")
          }
        }
      }
    }
  }

  /** The composite WordNgrams replaced, verbatim. */
  private def oldWordNgrams(toks: Column, n: Int, distinct: Boolean): Column = {
    val grams = transform(
      sequence(lit(0), size(toks) - n),
      i => concat_ws(" ", (1 to n).map(k => element_at(toks, i + k)): _*))
    when(size(toks) < n, array().cast("array<string>"))
      .otherwise(if (distinct) array_distinct(grams) else grams)
  }

  private def fixture = {
    import spark.implicits._
    Seq(
      Seq("a", "b", "a", "b", "a"),          // duplicate grams
      Seq("the", "quick", "fox"),            // exactly n=3
      Seq("solo"),                           // shorter than every n
      Seq.empty[String],                     // empty
      Seq("", "x", ""),                      // empty-string tokens
      Seq("añejo", "𝔘nicode", "züri", "好"), // multi-byte UTF-8
      Seq("a", null, "b", "c"),              // null tokens (concat_ws skips)
      Seq[String](null, null, null)          // all-null windows
    ).toDF("toks")
  }

  test("WordNgrams kernel matches the transform/concat_ws composite") {
    for (n <- Seq(2, 3, 5); distinct <- Seq(true, false)) {
      val got = fixture.select(
        graft.functions.WordNgrams(col("toks"), n, distinct).as("nw"),
        oldWordNgrams(col("toks"), n, distinct).as("old")).collect()
      got.foreach { r =>
        assert(r.getSeq[String](0) == r.getSeq[String](1),
          s"n=$n distinct=$distinct kernel=${r.getSeq[String](0)} " +
            s"composite=${r.getSeq[String](1)}")
      }
    }
    // null input -> EMPTY array, same as the composite under the engine's
    // ansi=false sessions (legacy size(null) = -1 trips the size < n guard)
    import spark.implicits._
    val nullRow = Seq(Tuple1[Seq[String]](null)).toDF("toks")
      .select(graft.functions.WordNgrams(col("toks"), 3, distinct = true),
              oldWordNgrams(col("toks"), 3, distinct = true),
              graft.functions.NgramFnv(col("toks"), 3)).collect()
    assert(nullRow.head.getSeq[String](0) == Seq.empty &&
           nullRow.head.getSeq[String](1) == Seq.empty &&
           nullRow.head.getSeq[Long](2) == Seq.empty)
  }

  test("NgramFnv matches fnv_hash over the distinct gram strings") {
    for (n <- Seq(2, 3)) {
      val got = fixture.select(
        graft.functions.NgramFnv(col("toks"), n).as("nw"),
        transform(oldWordNgrams(col("toks"), n, distinct = true),
          x => graft.functions.FnvHash(x)).as("old")).collect()
      got.foreach { r =>
        assert(r.getSeq[Long](0) == r.getSeq[Long](1),
          s"n=$n kernel=${r.getSeq[Long](0)} composite=${r.getSeq[Long](1)}")
      }
    }
  }

  test("BandHashes matches transform(sequence, xxhash64(element_at...))") {
    import spark.implicits._
    val rows = Seq(
      (0L until 32L).toArray,                    // full 32-lane signature
      Array(7L, -3L, Long.MaxValue, Long.MinValue, 0L, 1L, 2L, 3L,
            4L, 5L, 6L, 7L, 8L, 9L, 10L, 11L, 12L, 13L, 14L, 15L,
            16L, 17L, 18L, 19L, 20L, 21L, 22L, 23L, 24L, 25L, 26L,
            27L),                                 // extreme lane values
      Array(1L, 2L, 3L)                           // short array: element_at
                                                  // out of range -> skipped
    ).toDF("sig")
    val old = transform(sequence(lit(0), lit(7)),
      bnd => xxhash64((0 until 4).map(r =>
        element_at(col("sig"), bnd * 4 + r + 1)): _*))
    val got = rows.select(
      graft.functions.BandHashes(col("sig"), 8, 4).as("nw"),
      old.as("old")).collect()
    got.foreach { r =>
      assert(r.getSeq[Long](0) == r.getSeq[Long](1),
        s"kernel=${r.getSeq[Long](0)} composite=${r.getSeq[Long](1)}")
    }
  }

  test("FnvHashArray matches transform(toks, fnv_hash)") {
    val got = fixture.select(
      graft.functions.FnvHashArray(col("toks")).as("nw"),
      transform(col("toks"), x => graft.functions.FnvHash(x)).as("old"))
      .collect()
    got.foreach { r =>
      assert(r.getSeq[Any](0) == r.getSeq[Any](1),
        s"kernel=${r.getSeq[Any](0)} composite=${r.getSeq[Any](1)}")
    }
  }

  test("TokenSetHits matches size(filter(toks, isInCollection))") {
    import spark.implicits._
    val words = Seq("the", "a", "of")
    val rows = Seq(
      Seq("the", "cat", "the", "a"), // duplicates count
      Seq("dog"),                    // zero hits
      Seq.empty[String],             // empty -> 0
      Seq("the", null, "of"),        // null token dropped, not counted
      null                           // null array -> legacy size(null) = -1
    ).toDF("toks")
    val old = size(filter(col("toks"), tk => tk.isInCollection(words)))
    val got = rows.select(
      graft.functions.TokenSetHits(col("toks"), words).as("nw"),
      old.as("old")).collect()
    got.foreach(r => assert(r.getInt(0) == r.getInt(1),
      s"kernel=${r.getInt(0)} composite=${r.getInt(1)}"))
    // the bm25 single-term form: size(filter(toks, x === term))
    val oldEq = size(filter(col("toks"), x => x === lit("the")))
    val got2 = rows.select(
      graft.functions.TokenSetHits(col("toks"), Seq("the")).as("nw"),
      oldEq.as("old")).collect()
    got2.foreach(r => assert(r.getInt(0) == r.getInt(1),
      s"single-term kernel=${r.getInt(0)} composite=${r.getInt(1)}"))
  }

  test("AbsMax/Int8Quantize match the transform composites") {
    import org.apache.spark.sql.types.DoubleType
    import spark.implicits._
    val rows = Seq(
      Some(Seq(0.5f, -2.5f, 1.0f)),
      Some(Seq(-0.0f, 0.0f)),        // zero scale -> where(s > 0) drops it
      Some(Seq(Float.NaN, 1.0f)),    // NaN greatest in array_max
      Some(Seq.empty[Float]),        // empty -> null scale
      None                           // null embedding
    ).toDF("e").select(col("e").cast("array<float>").as("embedding"))
    val oldScale =
      array_max(transform(col("embedding"), x => abs(x.cast(DoubleType)))) / 127.0
    val newScale = graft.functions.AbsMax(col("embedding")) / 127.0
    val got = rows.select(newScale.as("nw"), oldScale.as("old")).collect()
    got.foreach { r =>
      assert(r.get(0) == r.get(1) ||
        (r.get(0) != null && r.get(1) != null &&
          r.getDouble(0).isNaN && r.getDouble(1).isNaN),
        s"scale kernel=${r.get(0)} composite=${r.get(1)}")
    }
    val withS = rows.select(col("embedding"), newScale.as("s"))
      .where(col("s") > 0)
    val oldQv = transform(col("embedding"),
      x => floor(x.cast(DoubleType) / col("s") + 0.5))
    val got2 = withS.select(
      graft.functions.Int8Quantize(col("embedding"), col("s")).as("nw"),
      oldQv.as("old")).collect()
    got2.foreach(r => assert(r.getSeq[Any](0) == r.getSeq[Any](1),
      s"qv kernel=${r.getSeq[Any](0)} composite=${r.getSeq[Any](1)}"))
  }
}
