package graft

import org.apache.spark.sql.functions._

/** Pins the plan property the round-20 connected-components fusion depends
  * on: the pointer-jump self-join references the neighbor-step subtree
  * twice (it is no longer its own eager cut), and that is only
  * scale-admissible if the duplicated subtree's exchanges DEDUPLICATE at
  * execution — otherwise every round would compute the edge-scale
  * neighbor-min join twice. This spec builds one round's `jumped` plan
  * exactly as [[graft.pipeline.CurationQueries.connectedComponentsCounted]]
  * does, executes it, and asserts the final adaptive plan carries a reused
  * exchange/stage for the duplicated subtree. */
class CcRoundReuseSpec extends SparkSpec {

  test("pointer-jump self-join reuses the neighbor-step exchange") {
    import spark.implicits._
    val edges = (0L until 63L).map(i => (i, i + 1)).toDF("doc_a", "doc_b")
    val sym = edges
      .select(col("doc_a").as("src"), col("doc_b").as("dst"))
      .union(edges.select(col("doc_b").as("src"), col("doc_a").as("dst")))
      .transform(Engine.materialize)
    val endpoints = sym.select(col("src").as("doc_id")).distinct()
      .transform(Engine.materialize)
    val labels = endpoints.select(col("doc_id"), col("doc_id").as("label"))
    val nbrMin = sym
      .join(labels, sym("dst") === labels("doc_id"))
      .groupBy(col("src"))
      .agg(min(col("label")).as("nbr_label"))
    val stepped = labels
      .join(nbrMin, labels("doc_id") === nbrMin("src"), "left")
      .select(labels("doc_id"),
              least(col("label"),
                    coalesce(col("nbr_label"), col("label"))).as("label"),
              (coalesce(col("nbr_label"), col("label")) < col("label"))
                .as("changed"))
    val tbl = stepped.select(col("doc_id").as("l_id"), col("label").as("l_lbl"))
    val jumped = stepped.as("st")
      .join(tbl, col("st.label") === tbl("l_id"), "left")
      .select(col("st.doc_id"),
              coalesce(col("l_lbl"), col("st.label")).as("label"),
              (col("st.changed") ||
                coalesce(col("l_lbl"), col("st.label")) < col("st.label"))
                .as("changed"))
    // Execute through the SAME QueryExecution so executedPlan is the
    // final adaptive plan (a noop write would plan its own copy), then
    // assert the duplicated neighbor-step subtree materialized as ONE
    // stage: reuse shows either as an explicit Reused node or as the
    // same query-stage id appearing at both reference sites.
    val rows = jumped.collect()
    val executed = jumped.queryExecution.executedPlan.toString
    def stageIds(kind: String): Seq[String] =
      (kind + " (\\d+)").r.findAllMatchIn(executed).map(_.group(1)).toSeq
    val anyDupStage = Seq("ShuffleQueryStage", "BroadcastQueryStage")
      .exists(k => stageIds(k).distinct.size < stageIds(k).size)
    assert(
      executed.contains("ReusedExchange") ||
        executed.contains("ReusedQueryStage") || anyDupStage,
      s"no exchange reuse in the fused pointer-jump round:\n$executed")
    // And the labels must still be a correct single neighbor+jump round:
    // on the 0-1-...-63 chain, after one neighbor-min + one pointer jump
    // every node's label has travelled 2 hops.
    val got = rows.map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(got(3L) == 1L && got(2L) == 0L && got(0L) == 0L)
    Engine.releaseMaterialized(sym)
    Engine.releaseMaterialized(endpoints)
  }

  test("convergence is read from the observed cc_changed metric, never probed") {
    import spark.implicits._
    // There is no fallback probe: a chain that converges proves every
    // round's count came from the checkpoint action's observed metric.
    val edges = (0L until 15L).map(i => (i, i + 1)).toDF("doc_a", "doc_b")
    val (labels, _) = pipeline.CurationQueries.connectedComponentsCounted(
      (0L to 15L).toDF("doc_id"), edges)
    assert(labels.select(col("label")).distinct().as[Long].collect().toSeq == Seq(0L))

    val observed = Seq(true, false, true).toDF("changed")
      .observe("cc_changed",
        sum(when(col("changed"), lit(1L)).otherwise(lit(0L))).as("n_changed"))
    observed.collect()
    assert(pipeline.CurationQueries.ccRoundChanged(observed) == 2L)
    // a frame whose plan carries no such metric fails loudly, naming it
    val e = intercept[IllegalStateException] {
      pipeline.CurationQueries.ccRoundChanged(Seq(true).toDF("changed"))
    }
    assert(e.getMessage.contains("cc_changed"), e.getMessage)
  }
}
