package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.operators.{t, QueryFn}

/** Approximate-nearest-neighbor search over the `embeddings` table.
  *
  *  - [[annBrute]]: exact cosine top-k — the correctness baseline. A
  *    broadcast of the (small) query set against a full scan of the corpus:
  *    one pass, no shuffle of the corpus, per-query top-k via bounded heap.
  *  - [[annLsh]]: random-hyperplane LSH (4 tables × 8 bits). Signatures are
  *    one projection pass; the candidate join keys on (table, bucket), so
  *    at 100 TB the corpus never cross-joins — cost is bucket-collision
  *    volume, tunable by bits/tables. This is the scale path; recall vs
  *    [[annBrute]] is measured in SimilaritySpec.
  *
  * Every tier, here and in [[IvfAnn]], shares the same steps: the query
  * frame ([[queryFrame]]), exact cosine scoring ([[cosineTopK]]), the
  * per-query ranking ([[rankTopK]]) and recall ([[recall]]).
  *
  * Hyperplane weights are pseudo-random ±1 derived from integer mixing of
  * (table, plane, dim) — deterministic across engines and runs, no RNG
  * state, nothing to ship to executors.
  */
object SimilarityQueries {

  // Codegen'd single-call dot product (graft.functions.VectorOps.dotF):
  // same index-order double accumulation as the HOF formulation
  // (bit-identical results, DuckDB oracle unaffected), ~20x faster on
  // all-pairs joins.
  private def dotD(a: Column, b: Column): Column =
    graft.functions.VectorOps.dot(a, b)

  private[pipeline] def normD(a: Column): Column =
    sqrt(graft.functions.VectorOps.dot(a, a))

  /** 8-bit bucket signature of a float embedding under hash table `tbl` —
    * the codegen'd [[graft.functions.HyperplaneLsh]] kernel (deterministic
    * ±1 hyperplanes from integer mixing of (table, plane, dim);
    * bit-compatible with the interpreted-HOF formulation, ~20× cheaper/row). */
  private def lshBucket(emb: Column, tbl: Int): Column =
    graft.functions.HyperplaneLsh(emb, tbl, isFloat = true)

  private def withNorm(e: DataFrame): DataFrame =
    e.select(col("vec_id"), col("embedding"), normD(col("embedding")).as("norm"))
      // a zero-norm vector has no direction: its cosine is 0/0 = NaN, and
      // the two engines rank NaN differently (both sort it ABOVE real
      // similarities) — exclude it here and in the oracles' norm CTE
      .where(col("norm") > 0)

  /** The rounded cosine of a (q_emb, q_norm) × (embedding, norm) pair. */
  private[pipeline] def cosine: Column =
    round(dotD(col("q_emb"), col("embedding")) / (col("q_norm") * col("norm")), 6)
      .as("cosine")

  /** The query side of every ANN search: `(query_id, q_emb)` for the
    * vectors of `emb` whose vec_id is in `ids`. */
  def queryFrame(emb: DataFrame, ids: Seq[Long]): DataFrame =
    asQueries(emb.filter(col("vec_id").isin(ids: _*)))

  /** Every (vec_id, embedding) row of `emb` as a `(query_id, q_emb)` query. */
  private[pipeline] def asQueries(emb: DataFrame): DataFrame =
    emb.select(col("vec_id").as("query_id"), col("embedding").as("q_emb"))

  /** `rows`, collected from `df`, as a local relation with `df`'s schema:
    * a small frame read more than once is then the same rows by
    * construction, and a session-lifetime cache is never pinned. */
  private[graft] def local(df: DataFrame, rows: Array[Row]): DataFrame =
    df.sparkSession.createDataFrame(
      new java.util.ArrayList[Row](java.util.Arrays.asList(rows: _*)), df.schema)

  /** Per-query ranking of a scored `(query_id, vec_id, cosine)` frame →
    * `(query_id, rn, vec_id, cosine)`, the top `k` per query ordered by
    * (cosine desc, vec_id). The top-k runs through the bounded-heap
    * [[graft.plans.TopKPerGroup]] (map-side reduction, ≤ k rows per query
    * shuffled), not a row_number window, which would funnel each query's
    * full scored set into one task for a full sort; the rank is then a
    * window over the already-k-bounded frame. Ties (rounded cosine) break
    * toward the lowest vec_id — the heap orders by -vec_id. */
  def rankTopK(scored: DataFrame, k: Int): DataFrame = {
    val top = graft.plans.TopKPerGroup.topK(
      scored, Seq(col("query_id")),
      struct(col("cosine"), (-col("vec_id")).as("tb")), k)
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("vec_id"))
    top.withColumn("rn", row_number().over(w))
      .select(col("query_id"), col("rn"), col("vec_id"), col("cosine"))
      .orderBy(col("query_id"), col("rn"))
  }

  /** Exact cosine top-k of each `(query_id, q_emb)` query against a
    * `(vec_id, embedding)` corpus, ranked by [[rankTopK]]. The queries
    * broadcast, so the corpus is scanned once and never shuffled; each
    * side's norm is computed once per row (a plan barrier sits between it
    * and the pair loop), so scoring runs one dot product per pair. A query
    * never matches itself. */
  def cosineTopK(queries: DataFrame, corpus: DataFrame, k: Int): DataFrame = {
    val q = queries.withColumn("q_norm", normD(col("q_emb")))
    val c = corpus.withColumn("norm", normD(col("embedding")))
    rankTopK(broadcast(q).crossJoin(c)
      .filter(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id"), cosine), k)
  }

  /** Recall of `got` against `truth` (both carrying `(query_id, vec_id)`,
    * each pair at most once): the fraction of truth pairs `got` also
    * returns, 1.0 when the truth is empty (`got` is then not evaluated).
    * The truth is evaluated once: its pairs (at most k per query) are
    * collected, counted and joined as a local relation. */
  def recall(got: => DataFrame, truth: DataFrame): Double = {
    val pair = Seq("query_id", "vec_id")
    val t = truth.select(pair.map(col): _*)
    val rows = t.collect()
    if (rows.isEmpty) 1.0
    else got.select(pair.map(col): _*)
      .join(local(t, rows), pair).count().toDouble / rows.length
  }

  /** Exact brute-force cosine top-5 for query vectors vec_id < 10. */
  val annBrute: QueryFn = (s, dir) =>
    bruteTopKFrame(t(s, dir, "embeddings"), (0L until 10L), 5)

  /** Exact brute top-k over any (vec_id, embedding) frame — the ground
    * truth the approximate tiers' recall is measured against (specs +
    * [[graft.AnnScale]]): [[cosineTopK]] behind the [[withNorm]] fence. */
  def bruteTopKFrame(embRaw: DataFrame, queryIds: Seq[Long], k: Int): DataFrame = {
    val e = withNorm(embRaw).select(col("vec_id"), col("embedding"))
    cosineTopK(queryFrame(e, queryIds), e, k)
  }
  val annBruteSql: String =
    """WITH n AS (
      |  SELECT vec_id, embedding,
      |    sqrt(list_aggregate(list_transform(embedding,
      |      x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), 'sum')) AS norm
      |  FROM embeddings WHERE norm > 0), -- NaN-cosine parity, see withNorm
      |scored AS (
      |  SELECT q.vec_id AS query_id, e.vec_id,
      |    ROUND(list_aggregate(list_transform(range(1, len(q.embedding) + 1),
      |            i -> CAST(q.embedding[i] AS DOUBLE) * CAST(e.embedding[i] AS DOUBLE)), 'sum')
      |          / (q.norm * e.norm), 6) AS cosine
      |  FROM n q JOIN n e ON q.vec_id < 10 AND e.vec_id != q.vec_id),
      |ranked AS (
      |  SELECT query_id, vec_id, cosine,
      |    ROW_NUMBER() OVER (PARTITION BY query_id
      |                       ORDER BY cosine DESC, vec_id) AS rn
      |  FROM scored)
      |SELECT query_id, rn, vec_id, cosine FROM ranked WHERE rn <= 5
      |ORDER BY query_id, rn""".stripMargin

  /** LSH-bucketed ANN: same queries, candidates restricted to bucket
    * collisions in any of 4 hash tables, then exact cosine top-5 within
    * candidates. Rows-only for the driver; recall measured in the spec. */
  val annLsh: QueryFn = (s, dir) =>
    lshTopKFrame(t(s, dir, "embeddings"), (0L until 10L), 5)

  /** The LSH ANN pipeline over any (vec_id, embedding) frame —
    * parameterized so specs can measure recall on planted vectors, and
    * `tables` so the scale rehearsal can walk the recall knob: with b sign
    * bits per bucket, recall ≈ 1−(1−(1−θ/π)^b)^tables — at fixed b the
    * table count is the only lever that holds recall as the corpus grows
    * (candidates per query scale ∝ tables·n/2^b).
    *
    * `probes` adds MULTI-PROBE on the query side (Lv et al., VLDB'07): each
    * query also probes the buckets at Hamming distance 1 — and, past
    * probes = 9, distance 2 — from its own (the probe sequence is
    * own bucket, then the 8 single-bit flips, then the 28 two-bit flips:
    * up to 37), trading candidates ∝ probes for the recall of ~probes× the
    * table count at zero extra index cost. The expansion happens only on
    * the |queries|-row side — the corpus side of the bucket join is
    * untouched, so the 100 TB shape is identical. This is what keeps
    * recall alive on SPARSE corpora (n ≲ 2^b leaves <1 vector per bucket:
    * at sf0.01's 200 vectors, exact-bucket recall was 0.04 — caught by
    * check.py's tolerance gate — vs 0.42 at Hamming-1 and 0.74 at the
    * round-19 default below; `graft.AnnScale`'s `lsh` mode prints the
    * measured recall-vs-candidates curve that picked it). */
  def lshTopKFrame(embRaw: DataFrame, queryIds: Seq[Long], k: Int,
                   tables: Int = 4, probes: Int = 25): DataFrame =
    rankTopK(lshCandidates(embRaw, queryIds, tables, probes)
      .select(col("query_id"), col("vec_id"), cosine), k)

  /** Distinct (query, candidate) pairs of the probe configuration, with
    * both vectors and norms — what [[lshTopKFrame]] scores. */
  private def lshCandidates(embRaw: DataFrame, queryIds: Seq[Long],
                            tables: Int, probes: Int): DataFrame = {
    val planes = graft.functions.HyperplaneLsh.Planes
    val maxProbes = 1 + planes + planes * (planes - 1) / 2
    require(probes >= 1 && probes <= maxProbes,
      s"probes must be in [1, $maxProbes], got $probes")
    val e = withNorm(embRaw)
    // array of per-table signatures (not transform-over-sequence: a lambda
    // would drop the codegen'd signature expression back to interpreted eval)
    val sigs = e.select(col("vec_id"), col("embedding"), col("norm"),
      posexplode(array((0 until tables).map(i =>
        lshBucket(col("embedding"), i)): _*)))
      .withColumnRenamed("pos", "tbl")
      .withColumnRenamed("col", "bucket")
    // query-side probe set: own bucket, the single-bit flips, then the
    // two-bit flips (deterministic (i,j) order so the same `probes` value
    // always means the same buckets)
    val flipMasks: Seq[Int] =
      0 +: (0 until planes).map(1 << _) ++:
        (for (i <- 0 until planes; j <- i + 1 until planes)
          yield (1 << i) | (1 << j))
    val probeBuckets = array(flipMasks.take(probes).map {
      case 0 => col("bucket")
      case m => col("bucket").bitwiseXOR(lit(m))
    }: _*)
    val q = sigs.filter(col("vec_id").isin(queryIds: _*))
      .select(col("tbl"), explode(probeBuckets).as("bucket"),
              col("vec_id").as("query_id"),
              col("embedding").as("q_emb"), col("norm").as("q_norm"))
    q.join(sigs, Seq("tbl", "bucket"))
      .filter(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id"), col("q_emb"), col("q_norm"),
              col("embedding"), col("norm"))
      .distinct()
  }

  /** Distinct (query, candidate) count of the probe configuration — the
    * COST side of the recall-vs-cost curve (`graft.AnnScale` `lsh` mode):
    * exact-scoring work and bucket-join output both scale with it. */
  private[graft] def lshCandidateCount(embRaw: DataFrame, queryIds: Seq[Long],
                                       tables: Int, probes: Int): Long =
    lshCandidates(embRaw, queryIds, tables, probes).count()

  /** Per-vector symmetric int8 quantization: scale = max|xᵢ|/127, qᵢ =
    * floor(xᵢ/scale + 0.5) ∈ [-127, 127]. floor(x+0.5) rather than a
    * round() builtin because floor is exactly specified on both engines
    * while round's half-case convention differs (Spark HALF_UP on the
    * decimal repr, DuckDB half-away on the binary value). Spark's floor
    * over double yields LONG, so the quantized vector is array<bigint> —
    * every downstream product/sum is EXACT integer math, which is what
    * makes this tier fully oracle-checkable (no FP accumulation order to
    * disagree about). Zero vectors have no direction (scale 0) and are
    * excluded exactly as [[withNorm]] excludes them from the float tier. */
  private[graft] def int8Quantized(e: DataFrame): DataFrame = {
    // Codegen'd kernels (round 21, graft.functions.QuantKernels): the two
    // transform(...) passes ran interpreted lambdas per element per row.
    // Values identical: abs_max is array_max(transform(abs(cast double)))
    // (null elements skipped, all-null -> null), int8_quantize is
    // floor(cast(x as double) / s + 0.5) per element with Spark's
    // divide-by-zero -> null (unreachable behind the s > 0 guard).
    val scale = graft.functions.AbsMax(col("embedding")) / 127.0
    e.select(col("vec_id"), col("embedding"), scale.as("s"))
      .where(col("s") > 0)
      .select(col("vec_id"),
        graft.functions.Int8Quantize(col("embedding"), col("s")).as("qv"))
  }

  /** Exact cosine top-5 over int8-QUANTIZED vectors for queries vec_id < 10
    * — the memory-scale path: at 100 TB an int8 corpus is 4× smaller than
    * float32 (64 B/vector here), which is the difference between an
    * in-memory ANN shard and a spilling one. Cosine is scale-invariant, so
    * the per-vector scales cancel and scoring runs on the integer vectors
    * alone: one codegen'd exact long dot product per pair
    * ([[graft.functions.VectorOps.dotLong]]), broadcast queries × corpus
    * scan, no corpus shuffle — same plan shape as [[annBrute]]. Ranking
    * agreement vs the float baseline is pinned in SimilaritySpec. */
  val annInt8: QueryFn = (s, dir) => {
    val e = int8Quantized(t(s, dir, "embeddings"))
      .select(col("vec_id"), col("qv"),
        sqrt(graft.functions.VectorOps.dotLong(col("qv"), col("qv"))
          .cast("double")).as("qnorm"))
    val q = broadcast(
      e.filter(col("vec_id") < 10)
        .select(col("vec_id").as("query_id"), col("qv").as("q_qv"),
                col("qnorm").as("q_qnorm")))
    rankTopK(q.crossJoin(e)
      .filter(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id"),
        round(graft.functions.VectorOps.dotLong(col("q_qv"), col("qv")).cast("double")
                / (col("q_qnorm") * col("qnorm")), 6)
          .as("cosine")), 5)
  }
  val annInt8Sql: String =
    """WITH sc AS (
      |  SELECT vec_id, embedding,
      |    list_max(list_transform(embedding, x -> abs(CAST(x AS DOUBLE)))) / 127.0 AS s
      |  FROM embeddings),
      |qv AS (
      |  SELECT vec_id,
      |    list_transform(embedding,
      |      x -> CAST(floor(CAST(x AS DOUBLE) / s + 0.5) AS BIGINT)) AS v
      |  FROM sc WHERE s > 0),
      |n AS (
      |  SELECT vec_id, v,
      |    sqrt(CAST(list_aggregate(list_transform(v, x -> x * x), 'sum') AS DOUBLE)) AS qnorm
      |  FROM qv),
      |scored AS (
      |  SELECT q.vec_id AS query_id, e.vec_id,
      |    ROUND(CAST(list_aggregate(list_transform(range(1, len(q.v) + 1),
      |            i -> q.v[i] * e.v[i]), 'sum') AS DOUBLE)
      |          / (q.qnorm * e.qnorm), 6) AS cosine
      |  FROM n q JOIN n e ON q.vec_id < 10 AND e.vec_id != q.vec_id),
      |ranked AS (
      |  SELECT query_id, vec_id, cosine,
      |    ROW_NUMBER() OVER (PARTITION BY query_id
      |                       ORDER BY cosine DESC, vec_id) AS rn
      |  FROM scored)
      |SELECT query_id, rn, vec_id, cosine FROM ranked WHERE rn <= 5
      |ORDER BY query_id, rn""".stripMargin

  val all: Map[String, QueryFn] = Map(
    "q_ann_brute" -> annBrute,
    "q_ann_lsh" -> annLsh,
    "q_ann_int8" -> annInt8)

  val oracle: Map[String, String] = Map(
    "q_ann_brute" -> annBruteSql,
    "q_ann_int8" -> annInt8Sql)
}
