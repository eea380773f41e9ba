package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical.{Join, JoinHint, NO_BROADCAST_HASH}
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.joins.BroadcastHashJoinExec
import org.apache.spark.sql.functions._

/** The engine-level no-estimate-broadcast guarantee
  * ([[graft.plans.CorpusBroadcastGuard]], injected by GraftExtensions):
  * collection-typed corpus joins can never be statically broadcast on a
  * width-blind size estimate — as a *planner* property, not a per-call-site
  * hint. DedupSpec asserts the executed-plan consequence on the (hint-free)
  * MinHash pipeline; this spec asserts the stamps and the non-stamps. */
class CorpusBroadcastGuardSpec extends SparkSpec {

  private def docs = Tables.table(spark, sfDir, "documents")

  private def joins(df: DataFrame): Seq[Join] =
    df.queryExecution.optimizedPlan.collect { case j: Join => j }

  private def flatten(p: SparkPlan): Seq[SparkPlan] = {
    val nested = p match {
      case a: AdaptiveSparkPlanExec => flatten(a.executedPlan)
      case q: QueryStageExec        => flatten(q.plan)
      case _                        => Seq.empty
    }
    p +: (p.children.flatMap(flatten) ++ nested)
  }

  private def withThreshold[A](bytes: String)(body: => A): A = {
    val key = "spark.sql.autoBroadcastJoinThreshold"
    val old = spark.conf.get(key)
    spark.conf.set(key, bytes)
    try body finally spark.conf.set(key, old)
  }

  test("corpus x corpus: both collection-typed sides are stamped, at any size") {
    // Both sides derive shingle ARRAYS from the documents scan — the exact
    // estimate-blind shape that OOM'd the SF30 cluster. No hints in the
    // query; the guard must stamp both sides even though the fixture scan
    // is far below the broadcast threshold (the estimate is untrustworthy
    // at every scale; sort-merge is safe at every scale).
    val sh = pipeline.DedupQueries.shingled(docs)
    val j = sh.select(col("doc_id"), col("sh_sorted"))
      .join(sh.select(col("doc_id").as("doc_b"), col("sh_sorted").as("s2")),
            col("doc_id") === col("doc_b"))
    val stamped = joins(j)
    assert(stamped.nonEmpty)
    stamped.foreach { jn =>
      assert(jn.hint.leftHint.exists(_.strategy.contains(NO_BROADCAST_HASH)),
        s"left side not stamped: ${jn.hint}")
      assert(jn.hint.rightHint.exists(_.strategy.contains(NO_BROADCAST_HASH)),
        s"right side not stamped: ${jn.hint}")
    }
  }

  test("one blind side is stamped only above the broadcast threshold") {
    val sh = pipeline.DedupQueries.shingled(docs)
      .select(col("doc_id"), col("lang"), col("sh_sorted"))
    // Scalar aggregate side: no collection type anywhere in its subtree.
    val dim = docs.groupBy(col("lang").as("lang2")).agg(count(lit(1)).as("n"))
    def theJoin = sh.join(dim, col("lang") === col("lang2"))

    // Below threshold (fixture default): everything derived from the scan
    // genuinely fits — nothing stamped, the dimension broadcast onto the
    // corpus stays available.
    val unstamped = joins(theJoin)
    assert(unstamped.nonEmpty)
    assert(unstamped.forall(_.hint == JoinHint.NONE),
      s"fixture-scale one-sided join must stay unhinted: ${unstamped.map(_.hint)}")

    // Above threshold (scan larger than 1 KB): the blind side's estimate
    // can no longer be trusted to have shrunk — stamp it; the scalar side
    // keeps every option.
    withThreshold("1024") {
      val stamped = joins(theJoin).filter(_.hint != JoinHint.NONE)
      assert(stamped.nonEmpty, "expected the blind side stamped above threshold")
      stamped.foreach { jn =>
        assert(jn.hint.leftHint.exists(_.strategy.contains(NO_BROADCAST_HASH)))
        assert(jn.hint.rightHint.forall(_.strategy.isEmpty),
          s"scalar side must not be stamped: ${jn.hint}")
      }
    }
  }

  test("scalar dimension broadcast onto the corpus still executes as broadcast") {
    val sh = pipeline.DedupQueries.shingled(docs)
      .select(col("doc_id"), col("lang"), col("sh_sorted"))
    val dim = docs.groupBy(col("lang").as("lang2")).agg(count(lit(1)).as("n"))
    val df = sh.join(dim, col("lang") === col("lang2"))
    df.collect()
    val bhj = flatten(df.queryExecution.executedPlan)
      .collect { case b: BroadcastHashJoinExec => b }
    assert(bhj.nonEmpty,
      s"scalar dim side should broadcast:\n${df.queryExecution.executedPlan}")
  }

  test("an explicit broadcast hint on a collection side is never overridden") {
    // A caller who KNOWS a collection-typed frame is small keeps the
    // override; the guard only stamps unhinted sides.
    val sh = pipeline.DedupQueries.shingled(docs)
    val small = broadcast(
      sh.select(col("doc_id").as("doc_b"), col("sh_sorted").as("s2")).limit(5))
    val df = sh.join(small, col("doc_id") === col("doc_b"))
    df.collect()
    val bhj = flatten(df.queryExecution.executedPlan)
      .collect { case b: BroadcastHashJoinExec => b }
    assert(bhj.nonEmpty,
      s"explicit broadcast hint lost:\n${df.queryExecution.executedPlan}")
  }

  test("register() installs the guard into sessions not built by Engine (idempotently)") {
    // The r17 SF30 OOM fix must hold in sessions the engine did not build
    // (one passed to `SparkEntry.entry` by its caller): extensions attach only at
    // builder time, so GraftFunctions.register — already invoked
    // idempotently at query-build time for any foreign session — must ALSO
    // install the rule via ExperimentalMethods (the optimizer's final
    // batch, still before physical planning).
    val s = spark.newSession()
    s.experimental.extraOptimizations = Seq.empty // simulate a fresh session
    functions.GraftFunctions.register(s)
    assert(s.experimental.extraOptimizations.contains(
      plans.CorpusBroadcastGuard), "register must install the guard")
    functions.GraftFunctions.register(s)
    assert(s.experimental.extraOptimizations.count(
      _ == plans.CorpusBroadcastGuard) == 1, "install must be idempotent")
  }

  test("a driver-local collection frame (exact size, not an estimate) is not penalized") {
    import spark.implicits._
    // LocalRelation sizes are driver-side facts — a k-means centroid frame
    // must stay broadcastable without an explicit hint.
    val centroids = Seq((0L, Array(1.0f, 2.0f)), (1L, Array(3.0f, 4.0f)))
      .toDF("cell", "centroid")
    val emb = Tables.table(spark, sfDir, "embeddings")
      .withColumn("cell", col("vec_id") % 2)
    val df = emb.join(centroids, "cell")
    val js = joins(df)
    assert(js.nonEmpty)
    // The LocalRelation side must carry no stamp (the corpus side may).
    js.foreach { jn =>
      val localSideHint =
        if (jn.right.collectLeaves().forall(_.isInstanceOf[
          org.apache.spark.sql.catalyst.plans.logical.LocalRelation]))
          jn.hint.rightHint
        else jn.hint.leftHint
      assert(localSideHint.forall(_.strategy.isEmpty),
        s"local-relation side stamped: ${jn.hint}")
    }
    df.collect()
    val bhj = flatten(df.queryExecution.executedPlan)
      .collect { case b: BroadcastHashJoinExec => b }
    assert(bhj.nonEmpty,
      s"centroid frame should broadcast:\n${df.queryExecution.executedPlan}")
  }
}
