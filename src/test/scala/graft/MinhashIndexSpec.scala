package graft

/** The standing MinHash signature artifact ([[graft.pipeline.MinhashIndex]]);
  * its lifecycle is pinned in DeltaIndexSpec. */
class MinhashIndexSpec extends SparkSpec {

  private def docs = Tables.table(spark, sfDir, "documents")

  test("indexed probe returns exactly the inline pipeline's pairs") {
    import spark.implicits._
    val dir = tmp("graft_mh_idx")
    pipeline.MinhashIndex.buildSignatures(docs, dir)
    val indexed = pipeline.MinhashIndex.pairsIndexedMulti(spark, Seq(dir))
      .as[(Long, Long, Double)].collect().sorted.toSeq
    val inline = pipeline.DedupQueries.minhashPairs(docs)
      .as[(Long, Long, Double)].collect().sorted.toSeq
    assert(indexed == inline,
      s"indexed n=${indexed.size} inline n=${inline.size}")
    assert(inline.nonEmpty, "fixture corpus should contain near-dup pairs")
  }

  test("probe plan never touches the documents text — only the artifact") {
    import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
    val dir = tmp("graft_mh_scan")
    pipeline.MinhashIndex.buildSignatures(docs, dir)
    val plan = pipeline.MinhashIndex.pairsIndexedMulti(spark, Seq(dir))
      .queryExecution.optimizedPlan
    var tables = Map.empty[String, Int].withDefaultValue(0)
    (plan +: plan.subqueriesAll).foreach(_.foreach {
      case LogicalRelation(fs: HadoopFsRelation, _, _, _, _) =>
        fs.location.rootPaths.foreach { p =>
          val t = p.getName.stripSuffix(".parquet")
          tables = tables.updated(t, tables(t) + 1)
        }
      case _ => ()
    })
    assert(tables("documents") == 0,
      s"probe must not re-scan the corpus text: $tables")
    assert(tables("signatures") == 4,
      s"expected 4 column-pruned artifact reads (2 band sides + 2 verify sides): $tables")
    assert(tables("members") == 4,
      s"expected 4 thin member-map reads (2 intra + 2 cross expansion sides): $tables")
  }

  test("candidate reads prune to (doc_id, sig); verify reads prune to (doc_id, sh_sorted)") {
    import org.apache.spark.sql.execution.FileSourceScanExec
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    val dir = tmp("graft_mh_prune")
    pipeline.MinhashIndex.buildSignatures(docs, dir)
    val df = pipeline.MinhashIndex.pairsIndexedMulti(spark, Seq(dir))
    df.collect()
    def flatten(p: SparkPlan): Seq[SparkPlan] = {
      val nested = p match {
        case a: AdaptiveSparkPlanExec => flatten(a.executedPlan)
        case q: QueryStageExec        => flatten(q.plan)
        case _                        => Seq.empty
      }
      p +: (p.children.flatMap(flatten) ++ nested)
    }
    val scans = flatten(df.queryExecution.executedPlan)
      .collect { case s: FileSourceScanExec => s.requiredSchema.fieldNames.toSet }
    assert(scans.nonEmpty)
    // No artifact scan may read all three payload columns — each probe
    // stage touches exactly the columns it needs (the artifact exists to
    // make these scans narrow).
    scans.foreach { cols =>
      assert(!(cols.contains("sig") && cols.contains("sh_sorted")),
        s"unpruned artifact scan reads both payloads: $cols")
    }
  }
}
