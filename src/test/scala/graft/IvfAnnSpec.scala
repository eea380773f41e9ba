package graft

import org.apache.spark.sql.functions._
import graft.pipeline.IvfAnn

class IvfAnnSpec extends SparkSpec {

  test("centroid training produces nlist refined centroids of the right shape") {
    val emb = Tables.table(spark, sfDir, "embeddings")
    val cents = IvfAnn.trainCentroids(emb, nlist = 8).collect()
    assert(cents.length == 8)
    assert(cents.forall(_.getSeq[Float](1).length == 64))
  }

  test("every vector lands in exactly one cell") {
    val emb = Tables.table(spark, sfDir, "embeddings")
    val cents = IvfAnn.trainCentroids(emb, nlist = 8)
    val idx = IvfAnn.assignCells(emb, cents)
    assert(idx.count() == emb.count())
    assert(idx.select("vec_id").distinct().count() == emb.count())
    assert(idx.select("cell_id").distinct().count() <= 8)
  }

  test("standing index: searchIndexed equals the self-contained search") {
    // The build-once/probe-many split must be a pure refactor of cost, not
    // semantics: same centroids, same cell assignment, same rounded-cosine
    // top-k, row for row.
    val emb = Tables.table(spark, sfDir, "embeddings")
    val dir = tmp("ivfindex")
    IvfAnn.buildIndex(emb, nlist = 16, dir)
    // the on-disk index is partitioned by cell: a probe prunes to its cells
    val cellDirs = new java.io.File(s"$dir/index.parquet")
      .listFiles.filter(_.getName.startsWith("cell_id="))
    assert(cellDirs.nonEmpty && cellDirs.length <= 16)
    // each cell is co-located before the write: one file per cell
    assert(cellDirs.forall(_.listFiles.count(_.getName.endsWith(".parquet")) == 1))
    // queries come from the caller (the corpus), not a vec_id filter over
    // the cell-partitioned index, which would prune nothing
    val qFrame = emb.filter(col("vec_id") < 10)
      .select(col("vec_id").as("query_id"), col("embedding").as("q_emb"))
    val viaIndex = IvfAnn.searchIndexedMulti(spark, s"$dir/centroids.parquet",
        Seq(s"$dir/index.parquet"), qFrame, 5, 4)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3)))
    val direct = IvfAnn.search(emb, (0L until 10L), 5, 16, 4)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3)))
    assert(viaIndex.toSeq == direct.toSeq,
      s"indexed search diverged from direct search")
  }

  test("q_ann_ivf_indexed registry entry: builds once, reuses the standing " +
      "artifact, matches the self-contained q_ann_ivf") {
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3))).toSeq
    val first = rows(IvfAnn.annIvfIndexed(spark, sfDir))
    // same (nlist, nprobe, k) ⇒ row-identical to the in-memory form
    assert(first == rows(IvfAnn.annIvf(spark, sfDir)),
      "indexed registry entry diverged from q_ann_ivf")
    // second call must find the artifact current (a no-op sync) and return
    // the same rows from the on-disk batch
    assert(rows(IvfAnn.annIvfIndexed(spark, sfDir)) == first,
      "standing-index reuse changed results")
  }

  test("IVF search returns descending cosine per query and decent recall") {
    val df = IvfAnn.annIvf(spark, sfDir)
    // the candidate top-k must run through the bounded-heap operator, not
    // a per-query row_number window over the full candidate set
    assert(df.queryExecution.executedPlan.toString.contains("TopKPerGroup"),
      "IVF final top-k should plan as TopKPerGroupExec")
    val ivf = df.collect()
    val byQuery = ivf.groupBy(_.getLong(0))
    byQuery.foreach { case (q, rs) =>
      val cos = rs.sortBy(_.getInt(1)).map(_.getDouble(3)).toSeq
      assert(cos == cos.sorted.reverse, s"query $q not descending")
    }
    // Recall@5 vs brute force: nprobe=4 of nlist=16 scans ~1/4 of a
    // near-uniform corpus; demand better than random-subset recall.
    val recall = pipeline.SimilarityQueries.recall(df,
      pipeline.SimilarityQueries.annBrute(spark, sfDir))
    info(f"IVF recall@5 vs brute: $recall%.2f")
    assert(recall >= 0.2, f"recall collapsed: $recall%.2f")
  }

  test("planted identical vector is always retrieved") {
    import spark.implicits._
    val base = Tables.table(spark, sfDir, "embeddings")
      .filter(col("vec_id") === 3).head().getSeq[Float](1).toArray
    val extra = Seq((9000L, base, 0)).toDF("vec_id", "embedding", "label")
    val emb = Tables.table(spark, sfDir, "embeddings").union(extra)
    val out = IvfAnn.search(emb, Seq(3L), k = 3, nlist = 8, nprobe = 2)
      .collect().map(_.getLong(2))
    assert(out.contains(9000L),
      s"identical vector shares the query's cell and must be found: ${out.toSeq}")
  }
}
