package graft

import org.apache.spark.sql.functions._

class SimilaritySpec extends SparkSpec {

  test("brute-force ANN returns 5 neighbors per query, cosine descending") {
    val rows = pipeline.SimilarityQueries.annBrute(spark, sfDir).collect()
    val byQuery = rows.groupBy(_.getLong(0))
    assert(byQuery.size == 10)
    byQuery.foreach { case (q, rs) =>
      assert(rs.length == 5, s"query $q has ${rs.length} neighbors")
      val cosines = rs.sortBy(_.getInt(1)).map(_.getDouble(3)).toSeq
      assert(cosines == cosines.sorted.reverse, s"query $q not descending")
      assert(!rs.exists(_.getLong(2) == q), "self must be excluded")
    }
  }

  test("int8 ANN top-k plans through the bounded heap, no sort below it") {
    // The per-query top-k must be TopKPerGroupExec (map-side heap, ≤ k rows
    // per query shuffled) — a row_number window here would funnel each
    // query's FULL scored corpus into one task for a full sort. Any
    // SortExec may only sit ABOVE the heap (over the k-bounded frame).
    // Every ANN tier ranks through the same step (SimilarityQueries
    // .rankTopK), so each one is checked here, not int8 alone. The one
    // sort allowed below the heap is a sort-merge join's own input sort
    // (LSH's bucket join): it orders candidates by join key, not by score.
    // Assert on the EXECUTED tree (AQE final plan after an action),
    // expanding the leaf QueryStageExec wrappers — a printed-tree string
    // walk could go vacuously green on a formatting change (ADVICE r13).
    import org.apache.spark.sql.execution.{InputAdapter, SortExec, SparkPlan, WholeStageCodegenExec}
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.joins.SortMergeJoinExec
    def expand(p: SparkPlan): SparkPlan = p match {
      case a: AdaptiveSparkPlanExec => expand(a.executedPlan)
      case q: QueryStageExec => expand(q.plan)
      case other => other
    }
    // the operator under any codegen wrappers
    def unwrap(p: SparkPlan): SparkPlan = expand(p) match {
      case w: WholeStageCodegenExec => unwrap(w.child)
      case i: InputAdapter => unwrap(i.child)
      case other => other
    }
    def subtree(p: SparkPlan): Seq[SparkPlan] = {
      val e = expand(p)
      e +: e.children.flatMap(subtree)
    }
    val tiers = Seq(
      "q_ann_int8" -> pipeline.SimilarityQueries.annInt8,
      "q_ann_brute" -> pipeline.SimilarityQueries.annBrute,
      "q_ann_lsh" -> pipeline.SimilarityQueries.annLsh,
      "q_ann_ivf" -> pipeline.IvfAnn.annIvf)
    for ((name, query) <- tiers) {
      val df = query(spark, sfDir)
      df.collect()
      val nodes = subtree(df.queryExecution.executedPlan)
      val heaps = nodes.collect { case h: plans.TopKPerGroupExec => h }
      assert(heaps.nonEmpty,
        s"$name: no TopKPerGroupExec in:\n${df.queryExecution.executedPlan}")
      heaps.foreach { h =>
        val below = h.children.flatMap(subtree)
        assert(below.nonEmpty, s"$name: heap subtree empty — nothing was asserted on")
        val joinInputs = below.collect { case j: SortMergeJoinExec => j.children }
          .flatten.map(unwrap)
        val sorts = below.collect {
          case s: SortExec if !joinInputs.exists(_ eq s) => s
        }
        assert(sorts.isEmpty,
          s"$name: SortExec below the bounded heap:\n${df.queryExecution.executedPlan}")
      }
    }
  }

  test("LSH ANN candidates are a subset of the corpus and self-consistent") {
    val lsh = pipeline.SimilarityQueries.annLsh(spark, sfDir).collect()
    assert(lsh.nonEmpty)
    lsh.groupBy(_.getLong(0)).foreach { case (q, rs) =>
      val cosines = rs.sortBy(_.getInt(1)).map(_.getDouble(3)).toSeq
      assert(cosines == cosines.sorted.reverse, s"query $q not descending")
    }
  }

  test("LSH achieves perfect recall for planted near-identical vectors") {
    import spark.implicits._
    // 60 background vectors + query 9000 and its near-copy 9001 (tiny
    // perturbation, cosine ~0.9999): hyperplane signs almost surely agree
    // in at least one of the 4 tables.
    val dim = 64
    def vec(seed: Long): Array[Float] = {
      val r = new scala.util.Random(seed)
      Array.fill(dim)(r.nextGaussian().toFloat)
    }
    val base = vec(7)
    val near = base.zipWithIndex.map { case (v, i) =>
      if (i == 0) v + 0.001f else v }
    val rows = (0 until 60).map(i => (100L + i, vec(i))) ++
      Seq((9000L, base), (9001L, near))
    val df = rows.toDF("vec_id", "embedding")
    // Rebuild the LSH pipeline over the synthetic frame via temp dir-free
    // path: lower-level entry (same code path as annLsh's internals).
    val out = SimilarityTestHarness.lshTopK(df, queryIds = Seq(9000L), k = 3)
    val neighbors = out.filter(_._1 == 9000L).map(_._2)
    assert(neighbors.contains(9001L),
      s"planted near-dup not retrieved: $neighbors")
  }

  test("recall evaluates its truth frame once, and never `got` on an empty truth") {
    import graft.pipeline.SimilarityQueries.recall
    // one increment per truth row each time the truth frame is computed
    val evals = spark.sparkContext.longAccumulator("truth rows evaluated")
    val counted = udf((_: Long) => { evals.add(1); true }).asNondeterministic()
    val truth = spark.range(0, 4, 1, 1)
      .select((col("id") % 2).as("query_id"), col("id").as("vec_id"))
      .filter(counted(col("vec_id")))
    val got = spark.range(0, 6, 2, 1)
      .select((col("id") % 2).as("query_id"), col("id").as("vec_id"))
    assert(recall(got, truth) == 0.5) // (0, 0) and (0, 2) of 4 truth pairs
    assert(evals.value == 4, s"truth evaluated ${evals.value / 4.0} times")
    var gotEvaluated = false
    val empty = recall({ gotEvaluated = true; got }, truth.filter(lit(false)))
    assert(empty == 1.0 && !gotEvaluated)
  }
}

object SimilarityTestHarness {
  import org.apache.spark.sql.DataFrame

  /** Thin driver over [[graft.pipeline.SimilarityQueries]]'s LSH internals
    * for synthetic frames: returns (query_id, vec_id) pairs of the top-k. */
  def lshTopK(emb: DataFrame, queryIds: Seq[Long], k: Int): Seq[(Long, Long)] = {
    val out = graft.pipeline.SimilarityQueries.lshTopKFrame(emb, queryIds, k)
    // columns: (query_id, rn, vec_id, cosine)
    out.collect().map(r => (r.getLong(0), r.getLong(2))).toSeq
  }
}
