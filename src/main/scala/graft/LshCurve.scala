package graft

/** Maintenance tool: the LSH-ANN recall-vs-cost curve (VERDICT r18 task 4).
  *
  * For a grid of (tables, probes) configurations, measures recall@k of
  * [[graft.pipeline.SimilarityQueries.lshTopKFrame]] against the exact
  * brute-force baseline, plus the distinct candidate count (the cost the
  * knobs actually spend — scoring work and bucket-join output scale with
  * it). The registered q_ann_lsh default is the knee of this curve;
  * BASELINE.md records the measured table.
  *
  * `java -cp ... graft.LshCurve [sfDir]` — prints one JSON line.
  */
object LshCurve {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val spark = Engine.session()
    spark.sparkContext.setLogLevel("ERROR")

    val emb = Tables.table(spark, sfDir, "embeddings")
    val ids = (0L until 10L)
    val k = 5
    val truth = pipeline.SimilarityQueries.bruteTopKFrame(emb, ids, k)
      .select("query_id", "vec_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet

    val grid = for {
      tables <- Seq(2, 4, 8)
      probes <- Seq(1, 9, 17, 25, 37)
    } yield (tables, probes)

    val rows = grid.map { case (tables, probes) =>
      val got = pipeline.SimilarityQueries.lshTopKFrame(emb, ids, k, tables, probes)
        .select("query_id", "vec_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      val recall = truth.count(got.contains).toDouble / truth.size
      val cands = pipeline.SimilarityQueries.lshCandidateCount(emb, ids, tables, probes)
      System.err.println(
        f"[lsh-curve] tables=$tables%2d probes=$probes%2d recall=$recall%.2f candidates=$cands")
      f"""{"tables":$tables,"probes":$probes,"recall":$recall%.3f,"candidates":$cands}"""
    }
    spark.stop()
    println(s"""{"metric":"lsh_recall_curve","k":$k,"queries":${ids.size},"sf":"$sfDir","points":${rows.mkString("[", ",", "]")}}""")
  }
}
