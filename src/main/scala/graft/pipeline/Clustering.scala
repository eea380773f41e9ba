package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, DoubleType}
import graft.functions.VectorOps
import graft.operators.{t, QueryFn}

/** Distributed k-means over the `embeddings` table — the clustering step a
  * training-data pipeline runs for semantic dedup buckets, domain/topic
  * discovery, and diversity-aware sampling (cluster-then-sample). No
  * analogue in the reference engine; a training-pipeline mandate extension
  * like [[CurationQueries]].
  *
  * Everything is deterministic DataFrame composition (Lloyd's algorithm,
  * fixed iteration count, no RNG):
  *  - seeds = the K lowest-vec_id vectors; the cluster id IS the seed's
  *    vec_id (stable across engines, runs and cluster sizes);
  *  - assignment = argmax cosine over the broadcast centroid set, computed
  *    map-side via `max_by` — the shuffle carries ONE row per vector, not
  *    K (the same bounded shape as [[IvfAnn.assignCells]]);
  *  - update = per-(cluster, dim) elementwise means.
  *
  * Unlike [[IvfAnn]] (rows-only by design), this op is ORACLE-CHECKED: the
  * centroid means aggregate through DECIMAL(27,10) — exact, reduction-order-
  * independent arithmetic (the package-scaladoc monetary trick applied to
  * geometry) — so the trained centroids are bit-identical on any cluster
  * AND in DuckDB; cosines then accumulate in index order as double (the
  * [[graft.functions.VectorOps.dotDbl]] codegen'd fold = DuckDB's
  * `list_aggregate(..., 'sum')`) and round to 6 dp before the argmax, ties
  * breaking toward the lowest cluster id in both engines.
  *
  * At 100 TB: centroids are K×d doubles (kilobytes — always broadcast);
  * each assignment pass is one scan + map-side argmax; the update shuffles
  * n×d (cluster, dim) cells with two-phase partial aggregation. The
  * convergence loop ([[trainedCentroidsIter]]) re-runs those same two
  * plans; between iterations only the K-row centroid set crosses the
  * driver (kilobytes), which also truncates lineage — each pass plans
  * against a literal centroid relation, so plan size is constant in the
  * iteration count. K must scale with the corpus (K ∝ n keeps the
  * semantic-dedup candidate bound Σ|cellᵢ|² linear — see
  * [[semanticPairs]]); it is a parameter here, with the fixture queries
  * pinning K=8 so the oracle corpus stays readable.
  */
object Clustering {

  private val K = 8

  /** Lloyd rounds for q_cluster_kmeans_iter; the driver loop stops early
    * only on an EXACT fixpoint (bit-identical centroids), where further
    * rounds are identity — so a fixed-round SQL oracle stays bit-equal. */
  private val IterRounds = 3

  /** Argmax-cosine assignment against a (small) centroid frame; carries the
    * vector through for the update step.
    *
    * Map-side-only shape (round 20): the centroid frame is folded into ONE
    * row (`collect_list` of K structs), broadcast, and the argmax runs as a
    * per-row stateless projection — the exact construction the streaming
    * tier uses ([[graft.streaming.DocumentsStreaming.clusterAssign]], since
    * round 21 the same [[graft.functions.ArgmaxSim]] kernel on both sides),
    * so batch and stream provably share semantics. The previous form scored K rows per
    * vector and folded them back with a `groupBy(vec_id).agg(max_by(...))`;
    * because the max_by value struct carries `emb` (an array), hash
    * aggregation is unavailable and the plan ran Sort → SortAggregate →
    * Exchange → Sort → SortAggregate — a full corpus sort plus an exchange
    * carrying every embedding, per assignment pass (two passes per k-means
    * query). Now the assignment is one WholeStageCodegen projection with
    * ZERO exchange: at 100 TB nothing corpus-sized is sorted or shuffled to
    * decide cluster membership (guide §2.4 "remove shuffles outright").
    *
    * Equivalence: `array_max` over struct(sim, −cluster_id, cluster_id) is
    * lexicographic — highest rounded cosine first, ties to the lowest
    * cluster_id — identical to the old max_by ordering struct; a null sim
    * (zero-norm centroid) sorts below every non-null sim in both forms. The
    * oracle gate hash-checks all four k-means queries against DuckDB and
    * KmeansSpec pins the semantics. */
  private[graft] def assign(embD: DataFrame, centroids: DataFrame): DataFrame = {
    // Round-21 kernel (graft.functions.ArgmaxSim, ArgmaxSimSpec pins the
    // composite equivalence): the array_max(transform(...)) argmax ran an
    // interpreted lambda + one ordering-struct allocation per centroid per
    // row (HOFs are CodegenFallback); the kernel is one codegen'd static
    // call. Bit-identical: same round6 cosine (the kernel recomputes
    // vnorm = sqrt(dot(emb, emb)) once per row — the same value as prep()'s
    // norm column), same lexicographic (sim desc, cluster_id asc) winner,
    // same null-sim ordering. The struct field order (id, centroid, cnorm)
    // is the kernel's positional contract.
    val cents = centroids.agg(collect_list(
      struct(col("cluster_id").as("id"), col("centroid"), col("cnorm")))
      .as("cents"))
    embD.crossJoin(broadcast(cents))
      .select(col("vec_id"), col("emb"),
        graft.functions.ArgmaxSim(col("emb"), col("cents"),
          doubleElems = true, roundTo6 = true).as("best"))
      .select(col("vec_id"), col("best.id").as("cluster_id"),
              col("best.sim").as("cosine"), col("emb"))
  }

  /** (vec_id, embedding) frame → double vectors with norms, zero-norm
    * excluded (a zero-norm vector has no direction: NaN cosine) — the same
    * fence as SimilarityQueries.withNorm and the oracle's norm CTE. */
  def prep(raw: DataFrame): DataFrame =
    raw
      .select(col("vec_id"), col("embedding").cast("array<double>").as("emb"))
      .withColumn("norm", sqrt(VectorOps.dotDouble(col("emb"), col("emb"))))
      .where(col("norm") > 0)

  /** The K lowest-vec_id vectors as the deterministic seed centroid frame;
    * the cluster id IS the seed's vec_id. */
  private def seedCentroids(embD: DataFrame, k: Int): DataFrame =
    embD.orderBy(col("vec_id")).limit(k)
      .select(col("vec_id").as("cluster_id"), col("emb").as("centroid"),
              col("norm").as("cnorm"))

  /** ONE Lloyd update: assign against `centroids`, then per-(cluster, dim)
    * elementwise means through DECIMAL(27,10) sums (order-independent ⇒
    * engine- and partitioning-independent centroids). `count(col)` (not
    * count(*)) so a ragged or null-holed dimension divides by the number of
    * values actually summed — the same semantics as the oracle's
    * COUNT(emb[i]). A cluster left empty by reassignment simply drops out
    * (no rows ⇒ no centroid), identically in both engines. */
  private def lloydUpdate(embD: DataFrame, centroids: DataFrame): DataFrame =
    assign(embD, centroids)
      .select(col("cluster_id"), posexplode(col("emb")))
      .groupBy(col("cluster_id"), col("pos"))
      .agg((sum(col("col").cast(DecimalType(27, 10))).cast(DoubleType) /
              count(col("col"))).as("m"))
      .groupBy(col("cluster_id"))
      .agg(array_sort(collect_list(struct(col("pos"), col("m")))).as("pairs"))
      .select(col("cluster_id"),
        transform(col("pairs"), p => p.getField("m")).as("centroid"))
      .withColumn("cnorm",
        sqrt(VectorOps.dotDouble(col("centroid"), col("centroid"))))

  /** Deterministic seeds + one Lloyd update over a prepped frame →
    * (cluster_id, centroid: array<double>, cnorm). Public so the streaming
    * tier can train on the static corpus and assign arriving vectors
    * against the same centroids
    * ([[graft.streaming.DocumentsStreaming.clusterAssign]]). */
  def trainedCentroids(raw: DataFrame): DataFrame = {
    val embD = prep(raw)
    lloydUpdate(embD, seedCentroids(embD, K))
  }

  private def collectCentroids(frame: DataFrame): Seq[(Long, Seq[Double])] =
    frame.select(col("cluster_id"), col("centroid")).collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1)))
      .sortBy(_._1).toSeq

  private def centroidFrame(spark: org.apache.spark.sql.SparkSession,
                            cents: Seq[(Long, Seq[Double])]): DataFrame = {
    import spark.implicits._
    cents.toDF("cluster_id", "centroid")
      .withColumn("cnorm",
        sqrt(VectorOps.dotDouble(col("centroid"), col("centroid"))))
  }

  /** Convergence-looped Lloyd's — the production shape: parameterized K
    * (scale it with the corpus: K ∝ n bounds semantic-dedup cells) and up
    * to `maxIters` update rounds, stopping early on an EXACT fixpoint
    * (bit-identical centroid set — well-defined because the decimal means
    * make each round deterministic). Early stop cannot diverge from a
    * fixed-round oracle: a fixpoint round is the identity, so rounds
    * `it..maxIters` all produce the same centroids.
    *
    * Loop mechanics (the [[CurationQueries.connectedComponents]] pattern,
    * specialized): the prepped corpus is materialized ONCE via
    * [[graft.Engine.materialize]] (each round re-reads the materialization,
    * not the parquet), and only the K-row centroid set crosses the driver
    * per round — collecting it is the lineage cut, so round N's plan is
    * scan + argmax against a literal relation regardless of N. At 100 TB:
    * per-round cost is one corpus pass + an n-row shuffle, K×d doubles of
    * driver traffic. */
  def trainedCentroidsIter(raw: DataFrame, k: Int = K,
                           maxIters: Int = IterRounds,
                           onRound: (Int, DataFrame) => Unit = (_, _) => ())
      : DataFrame = {
    require(k > 0 && maxIters > 0, s"k=$k maxIters=$maxIters must be positive")
    val spark = raw.sparkSession
    val embD = graft.Engine.materialize(prep(raw))
    var cents = collectCentroids(seedCentroids(embD, k))
    var it = 0
    var converged = false
    while (it < maxIters && !converged) {
      if (it + 1 < maxIters) {
        // TWO Lloyd rounds per blocking action (round 21, guide §5 "fewer
        // driver round trips"): round t+1's update plan takes round t's
        // update plan as its centroid input, and a tagged union collects
        // BOTH rounds' centroids in one job — halving the per-round
        // schedule + collect barriers (at 100 TB each barrier is a full
        // cluster drain). Round t's aggregation subtree appears twice
        // (union branch and round t+1's broadcast input) but its exchanges
        // are identical, so AQE stage reuse computes the expensive
        // per-(cluster, dim) shuffle once. Semantics are unchanged: the
        // same per-round centroid sequence is read out of the union, the
        // fixpoint early-stop still fires on round t (round t+1's wasted
        // pass is the identity by the fixpoint argument in the scaladoc),
        // and onRound sees every executed round exactly as before
        // (KmeansSpec pins the per-round inertia descent).
        val f1 = lloydUpdate(embD, centroidFrame(spark, cents))
        val f2 = lloydUpdate(embD, f1)
        val rows = f1.select(lit(1).as("rnd"), col("cluster_id"), col("centroid"))
          .unionByName(
            f2.select(lit(2).as("rnd"), col("cluster_id"), col("centroid")))
          .collect()
        def roundOf(r: Int): Seq[(Long, Seq[Double])] = rows
          .filter(_.getInt(0) == r)
          .map(x => (x.getLong(1), x.getSeq[Double](2)))
          .sortBy(_._1).toSeq
        val r1 = roundOf(1)
        converged = r1 == cents
        cents = r1
        it += 1
        onRound(it, centroidFrame(spark, cents))
        if (!converged) {
          val r2 = roundOf(2)
          converged = r2 == r1
          cents = r2
          it += 1
          onRound(it, centroidFrame(spark, cents))
        }
      } else {
        val next = collectCentroids(lloydUpdate(embD, centroidFrame(spark, cents)))
        converged = next == cents
        cents = next
        it += 1
        // observation hook (round number, centroids after that round) — the
        // KmeansSpec inertia invariant and the KmeansScale rehearsal read
        // the run without a second training pass
        onRound(it, centroidFrame(spark, cents))
      }
    }
    graft.Engine.releaseMaterialized(embD)
    centroidFrame(spark, cents)
  }

  /** Spherical-k-means objective of a centroid set over the corpus:
    * Σ (1 − cosine(v, assigned centroid)). The iterated trainer descends
    * this (KmeansSpec pins per-round monotonicity; KmeansScale records the
    * curve at amplified scale). */
  def inertia(raw: DataFrame, centroids: DataFrame): Double =
    assign(prep(raw), centroids)
      .agg(sum(lit(1.0) - col("cosine"))).head().getDouble(0)

  /** K-means with deterministic seeding, one exact-decimal Lloyd update and
    * a final reassignment: (vec_id, cluster_id, cosine-to-centroid). */
  val kmeans: QueryFn = (s, dir) => {
    val raw = t(s, dir, "embeddings")
    assign(prep(raw), trainedCentroids(raw))
      .select(col("vec_id"), col("cluster_id"), col("cosine"))
    // No trailing ORDER BY (round 21, the q_dedup_exact argument): the
    // assignment is a per-vector SET, the gate sorts rows before hashing,
    // and the presentation sort's range exchange runs a bounds-sampling
    // job that re-executes the final assignment pass (scan + argmax over
    // the whole corpus — this plan's only expensive stage) a second time,
    // then total-sorts n rows. The oracle keeps its ORDER BY; comparison
    // is order-insensitive either way.
  }

  /** Generated oracle CTE chain for any (K, rounds): seeds `c0n`, then per
    * round t an assignment `a{t}` + decimal-mean update `cm{t}`/`c{t}`/
    * `c{t}n`, then the final reassignment `a2` (the name every dependent
    * oracle closes over). `COUNT(emb[i])` (not COUNT(*)) divides each
    * dimension's decimal sum by the number of values actually summed, so
    * the means stay engine-equal even on ragged embedding lengths (the
    * Spark side's posexplode only emits real positions — `count(col)` in
    * [[lloydUpdate]] is the same semantics). */
  private def kmeansCtesFor(k: Int, iters: Int): String = {
    val sb = new StringBuilder
    sb.append(
      s"""WITH n AS (
         |  SELECT vec_id,
         |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb,
         |    sqrt(list_aggregate(list_transform(embedding,
         |      x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), 'sum')) AS norm
         |  FROM embeddings),
         |nv AS (SELECT * FROM n WHERE norm > 0),
         |c0n AS (
         |  SELECT vec_id AS cluster_id, emb AS centroid, norm AS cnorm
         |  FROM nv ORDER BY vec_id LIMIT $k)""".stripMargin)
    for (t <- 1 to iters) {
      sb.append(
        s""",
           |asg$t AS (
           |  SELECT vec_id, cluster_id, emb FROM (
           |    SELECT v.vec_id, s.cluster_id, v.emb,
           |      ROW_NUMBER() OVER (PARTITION BY v.vec_id ORDER BY
           |        ROUND(list_aggregate(list_transform(range(1, len(v.emb) + 1),
           |          i -> v.emb[i] * s.centroid[i]), 'sum') / (v.norm * s.cnorm), 6)
           |          DESC, s.cluster_id) AS rn
           |    FROM nv v CROSS JOIN c${t - 1}n s) WHERE rn = 1),
           |cm$t AS (
           |  SELECT asg$t.cluster_id, d.i,
           |    CAST(SUM(CAST(asg$t.emb[d.i] AS DECIMAL(27,10))) AS DOUBLE)
           |      / COUNT(asg$t.emb[d.i]) AS m
           |  FROM asg$t, (SELECT unnest(range(1,
           |    (SELECT max(len(emb)) FROM nv) + 1)) AS i) d
           |  GROUP BY 1, 2),
           |c$t AS (
           |  SELECT cluster_id, list(m ORDER BY i) AS centroid FROM cm$t GROUP BY 1),
           |c${t}n AS (
           |  SELECT cluster_id, centroid,
           |    sqrt(list_aggregate(list_transform(centroid, x -> x * x), 'sum'))
           |      AS cnorm
           |  FROM c$t)""".stripMargin)
    }
    sb.append(
      s""",
         |a2 AS (
         |  SELECT vec_id, cluster_id, cosine FROM (
         |    SELECT v.vec_id, c.cluster_id,
         |      ROUND(list_aggregate(list_transform(range(1, len(v.emb) + 1),
         |        i -> v.emb[i] * c.centroid[i]), 'sum') / (v.norm * c.cnorm), 6)
         |        AS cosine,
         |      ROW_NUMBER() OVER (PARTITION BY v.vec_id ORDER BY
         |        ROUND(list_aggregate(list_transform(range(1, len(v.emb) + 1),
         |          i -> v.emb[i] * c.centroid[i]), 'sum') / (v.norm * c.cnorm), 6)
         |          DESC, c.cluster_id) AS rn
         |    FROM nv v CROSS JOIN c${iters}n c) WHERE rn = 1)""".stripMargin)
    sb.toString
  }

  /** The shared single-round CTE chain (seed → assign → decimal-mean update
    * → reassign); [[kmeansSql]] and the cluster-sampler / semantic-dedup
    * oracles all close over its `a2`/`nv`. */
  private val kmeansCtes: String = kmeansCtesFor(K, 1)

  val kmeansSql: String = kmeansCtes +
    "\nSELECT vec_id, cluster_id, cosine FROM a2 ORDER BY vec_id"

  /** Convergence-looped k-means, oracle-checked at [[IterRounds]] Lloyd
    * rounds: same output shape as [[kmeans]], trained by
    * [[trainedCentroidsIter]]. The DuckDB twin unrolls exactly
    * [[IterRounds]] rounds; the Spark loop's exact-fixpoint early stop is
    * bit-equal by construction (a fixpoint round is the identity). */
  val kmeansIter: QueryFn = (s, dir) => {
    val raw = t(s, dir, "embeddings")
    assign(prep(raw), trainedCentroidsIter(raw, K, IterRounds))
      .select(col("vec_id"), col("cluster_id"), col("cosine"))
    // No trailing ORDER BY — see [[kmeans]].
  }

  val kmeansIterSql: String = kmeansCtesFor(K, IterRounds) +
    "\nSELECT vec_id, cluster_id, cosine FROM a2 ORDER BY vec_id"

  /** Quota per cluster for the diversity sample. Fixed (not SF-scaled) on
    * purpose, like MixtureQueries.StratumCharBudget: a diversity spec says
    * "this many examples per semantic bucket". */
  private val ClusterQuota = 25

  /** Cluster-then-sample — the diversity-aware selection pattern: an equal
    * deterministic quota drawn from every k-means cluster, so no semantic
    * bucket dominates the mixture. Composition of [[kmeans]] with the
    * md5-ordered sampler of [[MixtureQueries.stratifiedSample]]; the
    * per-cluster window serializes each cluster through one task (K tasks —
    * fine for K in the hundreds; for huge quotas the hash-THRESHOLD form of
    * q_sample_threshold is the scale path, validated against this exact
    * form). */
  val clusterSample: QueryFn = (s, dir) => {
    // The assignment directly, NOT kmeans(s, dir): the registered kmeans
    // query ends with a presentation ORDER BY vec_id whose range exchange +
    // sort the per-cluster window would immediately destroy by
    // repartitioning on cluster_id (EliminateSorts does not see through
    // the intervening projection). Rows are identical — this query's own
    // ORDER BY (cluster_id, sample_rank) is the output contract.
    val raw = t(s, dir, "embeddings")
    val assigned = assign(prep(raw), trainedCentroids(raw))
      .select(col("vec_id"), col("cluster_id"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("cluster_id")).orderBy(col("skey"))
    // Quota cut through the bounded-heap operator BEFORE the ranking window
    // (round 21 — the q_window_rank treatment from round 20, guide §2.2
    // "shuffle fewer bytes"): the window alone shuffles the ENTIRE corpus
    // onto K partition keys and sorts each in full to keep 25 rows; the
    // heap pass keeps ≤ quota rows per cluster per input partition, so the
    // exchange carries K·quota·partitions rows, never the corpus, and
    // nothing is fully sorted. Value-identical: skey = md5 of the distinct
    // vec_id is unique (the same md5-tie assumption the window form already
    // makes), so the kept smallest-quota set is exactly {row_number ≤ quota}
    // and ranking the kept subset equals ranking within the full cluster
    // (all predecessors kept). skey is never null (vec_id is non-null),
    // so the operator's nulls-last ascending contract is vacuous here.
    val keyed = assigned
      .withColumn("skey", md5(concat(lit("div"), col("vec_id").cast("string"))))
    graft.plans.TopKPerGroup
      .topK(keyed, Seq(col("cluster_id")), col("skey"), ClusterQuota,
            descending = false)
      .withColumn("sample_rank", row_number().over(w))
      .filter(col("sample_rank") <= ClusterQuota)
      .select(col("cluster_id"), col("sample_rank"), col("vec_id"))
      .orderBy(col("cluster_id"), col("sample_rank"))
  }

  val clusterSampleSql: String = kmeansCtes + """,
      |smp AS (
      |  SELECT cluster_id, vec_id,
      |    ROW_NUMBER() OVER (PARTITION BY cluster_id
      |      ORDER BY md5('div' || CAST(vec_id AS VARCHAR))) AS sample_rank
      |  FROM a2)
      |SELECT cluster_id, sample_rank, vec_id FROM smp
      |WHERE sample_rank <= 25 ORDER BY cluster_id, sample_rank""".stripMargin

  /** Semantic-blocked near-dup pairs: exact cosine pairs computed WITHIN
    * k-means clusters only — the production blocking strategy for embedding
    * dedup at scale. Where [[DedupQueries]]' exact tier is O(n²) across the
    * whole corpus (byte-budgeted, row-count-fenced), this pass joins on
    * cluster_id so candidate volume is Σ|cellᵢ|² — with K ∝ corpus size the
    * per-cell population stays bounded and the join is an ordinary shuffle
    * on the block key (skewed cells split by AQE). Same t = 0.4 threshold
    * and rounded-cosine kernel as q_dedup_embedding, so the result is by
    * construction a subset of the exact tier's pairs; recall is the
    * fraction of true pairs whose endpoints share a cluster (spec-measured,
    * ≈ 1 for the high-similarity pairs dedup actually deletes). */
  val semanticPairs: QueryFn = (s, dir) => {
    val raw = t(s, dir, "embeddings")
    val a = assign(prep(raw), trainedCentroids(raw))
      .select(col("vec_id"), col("cluster_id"), col("emb"))
      .withColumn("norm", sqrt(VectorOps.dotDouble(col("emb"), col("emb"))))
      // referenced by BOTH sides of the self-join below: truncate lineage
      // so the k-means chain (two assignment passes + the decimal-mean
      // shuffle) runs once, not once per side — the q_dedup_cluster /
      // q_text_tfidf pattern
      .transform(graft.Engine.materialize)
    val left = a.select(col("vec_id").as("vec_a"), col("cluster_id"),
      col("emb").as("emb_a"), col("norm").as("norm_a"))
    val right = a.select(col("vec_id").as("vec_b"), col("cluster_id"),
      col("emb").as("emb_b"), col("norm").as("norm_b"))
    left.join(right, Seq("cluster_id"))
      .filter(col("vec_a") < col("vec_b"))
      .select(col("vec_a"), col("vec_b"),
        round(VectorOps.dotDouble(col("emb_a"), col("emb_b")) /
                (col("norm_a") * col("norm_b")), 6).as("cosine"))
      .filter(col("cosine") >= 0.4)
    // No trailing ORDER BY — the pair-set argument of
    // [[AllPairs.jaccardPairs]]; the sampling job otherwise re-ran the
    // within-cluster pair join (this plan's expensive stage) twice.
  }

  val semanticPairsSql: String = kmeansCtes + """,
      |pa AS (
      |  SELECT a2.vec_id, a2.cluster_id, nv.emb, nv.norm
      |  FROM a2 JOIN nv ON a2.vec_id = nv.vec_id),
      |pp AS (
      |  SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
      |    ROUND(list_aggregate(list_transform(range(1, len(a.emb) + 1),
      |      i -> a.emb[i] * b.emb[i]), 'sum') / (a.norm * b.norm), 6)
      |      AS cosine
      |  FROM pa a JOIN pa b
      |    ON a.cluster_id = b.cluster_id AND a.vec_id < b.vec_id)
      |SELECT vec_a, vec_b, cosine FROM pp WHERE cosine >= 0.4
      |ORDER BY vec_a, vec_b""".stripMargin

  val all: Map[String, QueryFn] = Map(
    "q_cluster_kmeans" -> kmeans,
    "q_cluster_kmeans_iter" -> kmeansIter,
    "q_sample_percluster" -> clusterSample,
    "q_dedup_semantic" -> semanticPairs)
  val oracle: Map[String, String] = Map(
    "q_cluster_kmeans" -> kmeansSql,
    "q_cluster_kmeans_iter" -> kmeansIterSql,
    "q_sample_percluster" -> clusterSampleSql,
    "q_dedup_semantic" -> semanticPairsSql)
}
