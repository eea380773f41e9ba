package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Maintenance tool: scale rehearsal beyond the shipped test data.
  *
  * Duplicates lineitem/documents N× into a temp dir (re-keying ids so joins
  * and dedup behave as on genuinely larger data) and runs the heavy
  * pipelines at that scale — a local stand-in for the 100 TB question
  * "does the plan survive a 10× scale-up" (shuffle sizing, AQE behavior,
  * no driver-side collapse). The amplified copy is deleted at exit. Run:
  * `... graft.ScaleSmoke [sfDir] [factor]`
  */
object ScaleSmoke {
  def main(args: Array[String]): Unit =
    ScaleData.withTempDir("graft_scale")(run(args, _))

  private def run(args: Array[String], out: String): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val factor = args.lift(1).map(_.toInt).getOrElse(10)
    val spark = Engine.session()

    // One amplifier for the repo: ScaleData's disjoint-universe key shift
    // (every PK+FK per copy), rather than a drifting local variant — the
    // rehearsal joins then have sf0.1 selectivity at N× cardinality.
    // Content columns are replicated verbatim, which is exactly the stress
    // shape the dedup tiers below want (each doc gains factor-1 identical
    // twins to find).
    val t0 = System.nanoTime()
    ScaleData.amplify(spark, sfDir, out, factor)
    println(f"[scale] amplified x$factor in ${(System.nanoTime() - t0) / 1e9}%.1f s -> $out")

    def time(name: String): Unit = {
      val t = System.nanoTime()
      try {
        SparkEntry.queries(name)(spark, out)
          .write.format("noop").mode("overwrite").save()
        println(f"[scale] $name%-24s ${(System.nanoTime() - t) / 1e9}%8.1f s")
      } catch {
        case e: Throwable =>
          println(s"[scale] $name FAILED: ${Option(e.getMessage).getOrElse(e.toString).take(200)}")
      }
    }
    val heavy = Seq("q1_agg", "q3_topn", "q5_join_agg", "q18_large",
        "q_topk_per_group", "q_dedup_exact", "q_dedup_minhash_lsh",
        "q_dedup_ngram_jaccard", "q_dedup_embedding", "q_ann_ivf",
        // round 4: grouping-set Expand, window frames over high-card keys,
        // multiset set-op, packing cumsum
        "q_rollup", "q_window_frame", "q_window_lag", "q_except_all",
        "q_pack_bins", "q_text_chunk",
        // round 9: TPC-DS wave 2 — the two-level ticket-granularity
        // aggregate (fact shuffles once on the inner group key) and the
        // count-range/count-star stars
        "qds46_bought_city", "qds73_count_range2", "qds96_count_join",
        // round 11: curation tier — clustering gets factor-sized cliques
        // (every amplified doc has factor-1 identical twins, so the pair
        // graph is the dense worst case for label propagation), decontam's
        // broadcast gram set grows with the eval split, tfidf's checkpoint
        // materializes factor× (doc,term) rows
        "q_dedup_cluster", "q_decontam", "q_text_tfidf",
        // round 19: the grouped near-dup answer shape — must track
        // q_dedup_cluster's wall (component labels, one expansion join),
        // never the pair listing's emitted-pair volume
        "q_dedup_minhash_cluster",
        // round 11b: repetition's per-row distinct×total gram scan grows
        // with doc length not corpus size (should scale linearly), the
        // stratified sampler's per-lang window is the serialization-prone
        // shape (5 strata = 5 tasks, the documented scale limit), bm25's
        // checkpoint + broadcast-stats second pass, int8 ANN's quantize +
        // integer-dot scoring
        "q_text_repetition", "q_sample_stratified", "q_search_bm25",
        "q_ann_int8", "q_doc_winnow",
        // round 11c: k-means — two broadcast-centroid assignment passes
        // (map-side argmax, one shuffled row per vector) + the n×d
        // (cluster,dim) decimal-mean shuffle, all ∝ corpus size
        "q_cluster_kmeans",
        // round 12: the convergence-looped variant — per-round cost is one
        // materialized-corpus pass; rounds add linearly, lineage constant —
        // and the two cluster-consumers (semantic-blocked dedup's Σ|cell|²
        // candidate join, the per-cluster quota sampler)
        "q_cluster_kmeans_iter", "q_dedup_semantic", "q_sample_percluster")
    val only = args.lift(2).map(_.split(",").toSet)
    heavy.filter(q => only.forall(_.contains(q))).foreach(time)

    // LZO split-read rehearsal: the amplified lineitem keys as multi-file
    // indexed lzop text, written distributed (one container + index per
    // partition, the layout real lzop writers + the reference's indexer
    // produce), then read back through the block-range split path. The
    // interesting number is the read (which includes lzo1x decompression
    // of every compressed block): it must scale with splits, not files.
    if (only.forall(_.contains("lzo"))) {
      import org.apache.hadoop.fs.Path
      val lzoDir = s"$out/lineitem_lzo"
      val li = spark.read.parquet(s"$out/lineitem.parquet")
        .select("l_orderkey", "l_partkey", "l_quantity")
      val serConf = new org.apache.spark.util.SerializableConfiguration(
        spark.sessionState.newHadoopConf())
      val t1 = System.nanoTime()
      val lines = li.select(concat_ws("|",
        li.columns.map(c => coalesce(col(c).cast("string"), lit("\\N"))): _*)
        .as("l"))
      lines.rdd.map(_.getString(0)).repartition(32)
        .mapPartitionsWithIndex { (i, it) =>
          graft.sources.Lzop.writeText(it,
            new Path(f"$lzoDir/part-$i%05d.lzo"), serConf.value)
          Iterator.single(i)
        }.count()
      println(f"[scale] lzo_write               ${(System.nanoTime() - t1) / 1e9}%8.1f s (32 files)")
      val t2 = System.nanoTime()
      val n = graft.sources.LegacyFormats.readLzoText(spark, lzoDir,
        org.apache.spark.sql.types.StructType.fromDDL(
          "l_orderkey BIGINT, l_partkey BIGINT, l_quantity DOUBLE"),
        splitBytes = 4L * 1024 * 1024).count()
      println(f"[scale] lzo_read                ${(System.nanoTime() - t2) / 1e9}%8.1f s ($n rows)")
    }
    spark.stop()
  }
}
