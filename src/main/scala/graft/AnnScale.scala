package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.pipeline.{IvfAnn, SimilarityQueries}
import graft.pipeline.SimilarityQueries.recall

/** Maintenance tool: ANN-tier scale rehearsal with RECALL measurement.
  *
  * [[ScaleSmoke]] answers "does the plan survive N×" for wall-clock; for
  * the approximate retrieval tiers the scale question is two-dimensional —
  * wall-clock AND recall@k against exact brute force at the same corpus
  * size. ScaleData's verbatim replication is useless for that (every
  * vector gains factor−1 bit-identical twins, so any method that finds one
  * twin finds them all and recall is trivially 1), so this tool amplifies
  * embeddings with a deterministic per-copy SIGN-FLIP of each dimension
  * (`sign(c,i) = ±1` from a hash of (copy, dim)): norms are preserved,
  * every copy becomes a distinct direction decorrelated from the others,
  * and the corpus is seed-stable across runs — an organic-ish retrieval
  * workload at N× cardinality, no RNG.
  *
  * Measures, at `factor × |embeddings|` vectors:
  *  - brute-force exact top-k (the ground truth + the O(n·q) baseline time);
  *  - IVF recall@k + wall for nprobe ∈ {1, 2, 4, 8} at nlist ~ √n
  *    (the nprobe sensitivity curve VERDICT r11 asked for);
  *  - hyperplane-LSH recall@k, wall and candidate count (distinct query ×
  *    candidate pairs, the cost the knobs spend) over a (tables, probes)
  *    grid: the recall-vs-cost curve the registered q_ann_lsh default is
  *    the knee of.
  *
  * Run: `... graft.AnnScale [sfDir] [factor] [k] [mode]`, mode one of
  * `all` (default: ivf, ivfidx and lsh), `ivf`, `ivfidx`, `drift` or
  * `lsh`; factor 1 measures the corpus itself. Prints one line per
  * measurement; takeaways are recorded in BASELINE.md's scale section.
  * The amplified corpus lives in a temp dir deleted at exit.
  */
object AnnScale {

  /** Amplified, sign-perturbed embedding frame: `factor` copies with
    * vec_id shifted by copy·1e9 (ScaleData's disjoint-universe shift) and
    * embedding[i] multiplied by a (copy, i)-hashed ±1. Copy 0 keeps the
    * original vectors bit-for-bit, so query ids drawn from copy 0 rank an
    * unmodified query against the perturbed corpus. */
  def amplified(spark: SparkSession, sfDir: String, factor: Int): DataFrame = {
    val base = Tables.table(spark, sfDir, "embeddings")
    val copies = spark.range(factor).select(col("id").as("__copy"))
    base.crossJoin(copies)
      .select(
        (col("vec_id") + col("__copy") * 1000000000L).as("vec_id"),
        when(col("__copy") === 0, col("embedding")).otherwise(
          zip_with(col("embedding"),
            sequence(lit(0), size(col("embedding")) - 1),
            (x, i) => when(pmod(hash(col("__copy"), i), lit(2)) === 0, x)
              .otherwise(-x))).as("embedding"))
  }

  /** The [[amplified]] corpus written under `dir` and read back: the
    * rehearsals' working copy. */
  def staged(spark: SparkSession, sfDir: String, factor: Int,
             dir: String): DataFrame = {
    amplified(spark, sfDir, factor)
      .repartition(math.max(32, factor / 8))
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    Tables.readParquet(spark, s"$dir/embeddings.parquet")
  }

  def main(args: Array[String]): Unit =
    ScaleData.withTempDir("graft_annscale")(run(args, _))

  private def run(args: Array[String], out: String): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val factor = args.lift(1).map(_.toInt).getOrElse(750)
    val k = args.lift(2).map(_.toInt).getOrElse(5)
    val queryIds = (0L until 10L)
    val spark = Engine.session()
    spark.sparkContext.setLogLevel("ERROR")

    val t0 = System.nanoTime()
    val emb = staged(spark, sfDir, factor, out)
    val n = emb.count()
    println(f"[annscale] corpus x$factor = $n vectors in ${(System.nanoTime() - t0) / 1e9}%.1f s -> $out")

    def timed[T](label: String)(body: => T): T = {
      val t = System.nanoTime()
      val r = body
      println(f"[annscale] $label%-28s ${(System.nanoTime() - t) / 1e9}%8.1f s")
      r
    }

    // Ground truth: exact brute-force top-k per query (rounded cosine,
    // vec_id tie-break — the q_ann_brute kernel over the corpus), computed
    // once per corpus and held as a local relation for every recall.
    def truthOf(corpus: DataFrame): DataFrame = {
      val brute = SimilarityQueries.bruteTopKFrame(corpus, queryIds, k)
      SimilarityQueries.local(brute, brute.collect())
    }
    val truth = timed(s"brute top-$k (truth)")(truthOf(emb))

    val mode = args.lift(3).getOrElse("all")

    if (mode == "all" || mode == "ivf") {
      val nlist = math.max(16, math.sqrt(n.toDouble).toInt / 2)
      for (nprobe <- Seq(1, 2, 4, 8)) {
        val r = timed(f"ivf nlist=$nlist nprobe=$nprobe") {
          recall(IvfAnn.search(emb, queryIds, k, nlist, nprobe), truth)
        }
        println(f"[annscale]   -> ivf recall@$k nprobe=$nprobe: $r%.2f")
      }
    }

    if (mode == "all" || mode == "ivfidx") {
      // Build-once/probe-many split: the standing partitioned index pays
      // the O(n·nlist) cost once; each probe batch then reads only its
      // nprobe cells' partitions.
      val nlist = math.max(16, math.sqrt(n.toDouble).toInt / 2)
      timed(s"ivf buildIndex nlist=$nlist (once)") {
        IvfAnn.buildIndex(emb, nlist, s"$out/ivf")
      }
      // Query frame from the CORPUS, not the index: the index is
      // partitioned by cell_id, so a vec_id filter over it scans every
      // cell — the corpus parquet serves the 10-row fetch with a pushed
      // vec_id predicate instead.
      val qFrame = SimilarityQueries.queryFrame(emb, queryIds)
      for (nprobe <- Seq(1, 8)) {
        val r = timed(f"ivf probe (standing) nprobe=$nprobe") {
          recall(IvfAnn.searchIndexedMulti(spark,
              s"$out/ivf/centroids.parquet", Seq(s"$out/ivf/index.parquet"),
              qFrame, k, nprobe), truth)
        }
        println(f"[annscale]   -> indexed recall@$k nprobe=$nprobe: $r%.2f")
      }
    }

    // Append-drift rehearsal (mode=drift, not part of `all` — it re-derives
    // brute truth per tranche): build the standing index on HALF the
    // corpus, then ingest the other half in tranches, each one
    // buildDeltaIndex batch assigned against the standing centroids and
    // probed as the union of batches (the incremental artifact's layout).
    // The appended copies are sign-decorrelated directions the centroids
    // were never trained on, so this measures exactly the production decay
    // question: how far can cheap delta ingest run before stale centroids
    // cost recall and a retrain is due? The closing full rebuild
    // quantifies how much recall a retrain buys back at the same nprobe —
    // BASELINE.md records the curve and names the trigger.
    if (mode == "drift") {
      val copyOf = floor(col("vec_id") / 1000000000L)
      val half = math.max(1, factor / 2)
      val initial = emb.filter(copyOf < half)
      val nInit = initial.count()
      val nlist = math.max(16, math.sqrt(n.toDouble).toInt / 2)
      val nprobe = 8
      timed(f"drift buildIndex on $nInit vectors nlist=$nlist") {
        IvfAnn.buildIndex(initial, nlist, s"$out/drift")
      }
      val qFrame = SimilarityQueries.queryFrame(emb, queryIds)
      var centroids = s"$out/drift/centroids.parquet"
      var indexPaths = Seq(s"$out/drift/index.parquet")
      def recallNow(hi: Long, label: String): Unit = {
        val truthNow = truthOf(emb.filter(copyOf < hi))
        val r = timed(f"$label probe nprobe=$nprobe") {
          recall(IvfAnn.searchIndexedMulti(spark, centroids, indexPaths,
            qFrame, k, nprobe), truthNow)
        }
        println(f"[annscale]   -> drift $label recall@$k: $r%.2f")
      }
      recallNow(half, f"appended 0%%")
      val tranches = 4
      val per = math.max(1, (factor - half + tranches - 1) / tranches)
      var lo = half.toLong
      while (lo < factor) {
        val hi = math.min(factor.toLong, lo + per)
        val batch = emb.filter(copyOf >= lo && copyOf < hi)
        timed(f"append copies $lo..${hi - 1} (${batch.count()} vectors)") {
          IvfAnn.buildDeltaIndex(batch, centroids, s"$out/drift_$lo")
        }
        indexPaths :+= s"$out/drift_$lo/index.parquet"
        recallNow(hi, f"appended ${(hi - half) * 100 / (factor - half)}%%")
        lo = hi
      }
      timed(f"drift full rebuild nlist=$nlist") {
        IvfAnn.buildIndex(emb, nlist, s"$out/drift_full")
      }
      centroids = s"$out/drift_full/centroids.parquet"
      indexPaths = Seq(s"$out/drift_full/index.parquet")
      recallNow(factor.toLong, "rebuilt 100%")
    }

    // LSH recall-vs-cost curve over (tables, probes) at fixed 8-bit
    // buckets: tables is the knob that must grow as neighbor cosine falls
    // with corpus size, multi-probe the one that keeps a sparse corpus's
    // recall alive. Gated like the IVF sections: a mode=ivf/ivfidx run
    // must not pay the LSH passes over the amplified corpus.
    if (mode == "all" || mode == "lsh") {
      val grid = (for (tables <- Seq(2, 4, 8); probes <- Seq(1, 9, 17, 25, 37))
        yield (tables, probes)) :+ ((16, 25))
      for ((tables, probes) <- grid) {
        val r = timed(s"lsh tables=$tables probes=$probes") {
          recall(SimilarityQueries.lshTopKFrame(emb, queryIds, k, tables, probes),
            truth)
        }
        val cands = SimilarityQueries.lshCandidateCount(emb, queryIds, tables, probes)
        println(f"[annscale]   -> lsh recall@$k tables=$tables probes=$probes: " +
          f"$r%.3f candidates=$cands")
      }
    }
    spark.stop()
  }
}
