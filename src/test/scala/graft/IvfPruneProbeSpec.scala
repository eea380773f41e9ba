package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import graft.pipeline.IvfAnn

/** Pins the IVF probe's PARTITION-PRUNED index scan — the property the
  * cell_id-partitioned standing layout exists for. Spark's dynamic
  * partition pruning does NOT fire through the probe join (observed:
  * `dynamicpruningexpression(true)` with all nlist partitions read), so
  * probeTopK collects the probed cell set (≤ nlist values by
  * construction) and pushes it as a LITERAL filter; this spec asserts,
  * from the EXECUTED plan's scan metrics, that the index scan reads only
  * the probed cells' partitions — a regression to the whole-index scan
  * (the 100 TB killer: every probe would pay a full corpus read) fails
  * the partition-count assertion, not just a benchmark. */
class IvfPruneProbeSpec extends SparkSpec {

  private def allNodes(p: SparkPlan): Seq[SparkPlan] = {
    val kids = p match {
      case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
      case q: QueryStageExec => Seq(q.plan)
      case s: org.apache.spark.sql.execution.exchange.ReusedExchangeExec => Seq(s.child)
      case _ => p.children
    }
    p +: kids.flatMap(allNodes)
  }

  test("probe reads only the probed cells' partitions, never the whole index") {
    val emb = Tables.table(spark, sfDir, "embeddings")
    val dir = tmp("ivf_prune")
    IvfAnn.buildIndex(emb, nlist = 16, dir)
    val queries = emb.filter(col("vec_id") < 3)
      .select(col("vec_id").as("query_id"), col("embedding").as("q_emb"))
    val res = IvfAnn.searchIndexedMulti(spark, s"$dir/centroids.parquet",
      Seq(s"$dir/index.parquet"), queries, k = 5, nprobe = 2)
    assert(res.collect().nonEmpty)

    val scans = allNodes(res.queryExecution.executedPlan).collect {
      case f: FileSourceScanExec
          if f.relation.location.rootPaths.exists(_.toString.contains("ivf_prune")) &&
            f.metrics.contains("numPartitions") => f
    }
    assert(scans.nonEmpty, "expected a partitioned index scan in the probe plan")
    // 3 queries × nprobe 2 probe at most 6 distinct cells; the scan must
    // be bounded by that, far under the 16 cells on disk.
    val partitionsRead = scans.map(_.metrics("numPartitions").value)
    assert(partitionsRead.forall(n => n > 0 && n <= 6),
      s"index scan must read ≤ probed-cell partitions (≤6 of 16), read: $partitionsRead")
    // and the filter really is a static partition filter, not a
    // degenerate dynamicpruningexpression(true)
    assert(scans.forall(_.partitionFilters.exists(_.toString.contains("cell_id"))),
      s"expected a literal cell_id partition filter: ${scans.map(_.partitionFilters)}")
  }

  test("multi-batch probe (incremental artifact) prunes every batch's scan") {
    val emb = Tables.table(spark, sfDir, "embeddings")
    val dir = tmp("ivf_prune_multi")
    val standing = col("vec_id") % 3 < 2
    IvfAnn.buildIndex(emb.filter(standing), nlist = 16, s"$dir/b0")
    IvfAnn.buildDeltaIndex(emb.filter(!standing),
      s"$dir/b0/centroids.parquet", s"$dir/b1")
    val queries = emb.filter(col("vec_id") < 3)
      .select(col("vec_id").as("query_id"), col("embedding").as("q_emb"))
    val res = IvfAnn.searchIndexedMulti(spark, s"$dir/b0/centroids.parquet",
      Seq(s"$dir/b0/index.parquet", s"$dir/b1/index.parquet"), queries, 5, 2)
    assert(res.collect().nonEmpty)
    val scans = allNodes(res.queryExecution.executedPlan).collect {
      case f: FileSourceScanExec
          if f.relation.location.rootPaths.exists(_.toString.contains("ivf_prune_multi")) &&
            f.metrics.contains("numPartitions") => f
    }
    assert(scans.nonEmpty)
    val partitionsRead = scans.map(_.metrics("numPartitions").value)
    assert(partitionsRead.forall(n => n > 0 && n <= 6),
      s"every batch's index scan must prune to the probed cells, read: $partitionsRead")
  }
}
