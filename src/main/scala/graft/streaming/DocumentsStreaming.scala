package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DoubleType

import graft.pipeline.{DedupQueries, MinhashIndex, TextQueries}

/** Structured Streaming over a DOCUMENT ingest stream — the streaming face
  * of the curation tier. The reference engine has no streaming surface
  * (SURVEY §2.10); this composes the batch tier's own column expressions
  * into Spark's incremental engine, the way an always-on ingest pipeline
  * would run them.
  *
  * Which curation tiers are streaming-safe, by construction:
  *
  *  - PURE PROJECTIONS (token/quality/repetition metrics, language-ID,
  *    winnowing/md5 fingerprints, PII redaction, chunking): legal in any
  *    output mode, zero state — they fuse into the microbatch scan exactly
  *    as they fuse into the batch scan.
  *  - WATERMARKED DEDUP ([[curationStream]]): content-fingerprint
  *    `dropDuplicatesWithinWatermark` — state bounded by ingest-rate ×
  *    horizon (the redelivery window), same shape as
  *    [[EventsStreaming.dedupWithinWatermark]].
  *  - STREAM-STATIC CANDIDATE JOINS ([[nearDupCandidates]]): the banded
  *    MinHash index of the EXISTING corpus is the static side; each
  *    arriving document's banded signature (a stateless projection) probes
  *    it. No stream-side state at all.
  *  - NOT incrementally expressible: corpus-global aggregates (TF-IDF/BM25
  *    document frequencies, decontamination's eval-gram set) — their stats
  *    depend on the whole corpus, so a streaming pipeline runs them per
  *    microbatch against a periodically-refreshed static snapshot
  *    (`foreachBatch`), not as unbounded streaming aggregates.
  */
object DocumentsStreaming {

  /** Streaming curation scan: per-document quality/repetition metrics
    * (the batch tier's expressions via the shared helpers), a hard filter
    * on degenerate looping documents, then watermarked exact dedup on the
    * content fingerprint. Input must carry (doc_id, text, ingest_ts). */
  def curationStream(docs: DataFrame,
                     watermark: String = "10 minutes",
                     dup5Threshold: Double = 0.9): DataFrame =
    curationMetrics(docs)
      .filter(col("dup_5gram_frac") < dup5Threshold)
      .withWatermark("ingest_ts", watermark)
      .dropDuplicatesWithinWatermark("fingerprint")

  /** The stateless metrics projection of [[curationStream]] — exposed so
    * the batch twin is THE SAME expressions over a batch frame (the
    * differential contract [[graft.StreamFuzz]] replays: stream output ≡
    * filter + first-seen-per-fingerprint over this frame). */
  def curationMetrics(docs: DataFrame): DataFrame =
    docs
      .select(col("doc_id"), col("text"), col("ingest_ts"),
        TextQueries.tokens(col("text")).as("w"))
      .select(col("doc_id"), col("text"), col("ingest_ts"), col("w"),
        TextQueries.wordNgrams(col("w"), 5, distinct = false).as("g5"))
      .select(
        col("doc_id"), col("ingest_ts"),
        (size(array_distinct(col("w"))).cast(DoubleType) / size(col("w")))
          .as("type_token_ratio"),
        when(size(col("g5")) === 0, lit(0.0))
          .otherwise((size(col("g5")) - size(array_distinct(col("g5"))))
            .cast(DoubleType) / size(col("g5")))
          .as("dup_5gram_frac"),
        md5(TextQueries.normalizedText(col("text")).cast("binary"))
          .as("fingerprint"))

  /** Stream-static semantic routing: assign each arriving embedding to its
    * nearest k-means centroid (trained on the static corpus via
    * [[graft.pipeline.Clustering.trainedCentroids]]) — the online face of
    * cluster-then-X curation: route a document into its semantic bucket the
    * moment it arrives, for per-bucket quotas, dedup scopes or topic stats.
    *
    * The centroid set is K×d doubles (kilobytes), so it is SNAPSHOTTED at
    * query build into a literal array and the whole assignment becomes a
    * STATELESS per-row projection — legal in append mode with no watermark
    * and no stream-side state, unlike the batch tier's `max_by` aggregate.
    * Since round 21 the argmax is the same codegen kernel the batch
    * assignment uses ([[graft.functions.ArgmaxSim]]): the previous
    * `array_max(transform(centArr, ...))` composite ran an interpreted
    * lambda plus an ordering-struct allocation per centroid per arriving
    * row (HOFs are CodegenFallback). Semantics are pinned identical by
    * ArgmaxSimSpec (same rounded-cosine, same lowest-id tie-break, null
    * sims below every non-null), and the stream-vs-batch routing parity
    * test in StreamingCurationSpec holds batch and stream to the same
    * answer — a streamed copy of a corpus vector lands in its batch
    * cluster. */
  def clusterAssign(stream: DataFrame, centroids: DataFrame): DataFrame = {
    import graft.functions.VectorOps
    val cents = centroids
      .select(col("cluster_id"), col("centroid"), col("cnorm")).collect()
    require(cents.nonEmpty,
      "clusterAssign needs at least one centroid (empty training corpus?)")
    // Struct field order (id, centroid, cnorm) is ArgmaxSim's positional
    // contract — the same literal-snapshot construction as the batch side's
    // broadcast collect_list row.
    val centArr = array(cents.map { r =>
      struct(
        lit(r.getLong(0)).as("id"),
        array(r.getSeq[Double](1).map(lit): _*).as("centroid"),
        lit(r.getDouble(2)).as("cnorm"))
    }.toIndexedSeq: _*)
    stream
      .select(col("vec_id"), col("embedding").cast("array<double>").as("emb"))
      .withColumn("norm", sqrt(VectorOps.dotDouble(col("emb"), col("emb"))))
      .where(col("norm") > 0)
      .withColumn("best",
        graft.functions.ArgmaxSim(col("emb"), centArr, roundTo6 = true))
      .select(col("vec_id"), col("best.id").as("cluster_id"),
              col("best.sim").as("cosine"))
  }

  /** Stream-static near-dup candidates: each arriving document probes the
    * banded MinHash index of the static corpus; collisions verify with the
    * exact codegen'd Jaccard. Emitted pairs are at-least-once (a pair
    * colliding in several bands emits per band — deduping would need
    * cross-batch state; downstream canonical-selection is idempotent, so
    * the right place for the distinct is the consumer's batch side). */
  def nearDupCandidates(stream: DataFrame, corpus: DataFrame,
                        threshold: Double = 0.5): DataFrame = {
    val idx = DedupQueries.bands(DedupQueries.signatures(corpus),
      col("doc_id").as("corpus_doc"), col("sh_sorted").as("sh_b"))
    probeBands(stream).join(idx, Seq("band_id", "band_hash"))
      .filter(col("stream_doc") =!= col("corpus_doc"))
      .select(col("stream_doc"), col("corpus_doc"),
        round(graft.functions.VectorOps.jaccard(col("sh_a"), col("sh_b")), 6)
          .as("jaccard"))
      .filter(col("jaccard") >= threshold)
  }

  /** [[nearDupCandidates]] derives its static side from the corpus TEXT —
    * every microbatch re-executes the static subtree, i.e. re-tokenizes,
    * re-shingles and re-hashes the whole corpus per batch. Fine at fixture
    * scale; at 100 TB the static side IS the cost, multiplied by batch
    * count. This variant probes the live batches of the STANDING signature
    * artifact instead ([[graft.pipeline.MinhashIndex.ensureIncremental]] —
    * the [[graft.pipeline.DeltaIndex]] lifecycle; one dir for a
    * single-batch artifact): the static side reads the narrow
    * per-representative (doc_id, sh_sorted, sig) parquet and the
    * (doc_id, rep) member map, never the corpus text (the spec pins zero
    * text-column reads), so the per-batch static work is a columnar scan
    * of signature rows. Batch and streaming probes share ONE index
    * lifecycle: an ingest append derives a delta partition once, and both
    * the batch sweep (`pairsIndexedMulti`) and the always-on stream probe
    * read the same live batch set.
    *
    * Output is the same pair multiset as [[nearDupCandidates]] over the
    * corpus the artifact was built from: the artifact stores one banded
    * signature per exact-content REPRESENTATIVE, a stream-side collision
    * with a representative in band b stands for the same collision with
    * every member of that content group in the same band (identical
    * content ⇒ identical banded rows), and the member expansion restores
    * exactly those rows through a thin id join — the same
    * contraction-invariance argument as [[graft.pipeline.DedupQueries]]'s
    * batch pipelines. Per-batch representatives of one cross-batch content
    * group carry identical banded rows, so the union of batches reproduces
    * the same multiset — StreamingCurationSpec pins equality and the
    * artifact-only scan set. */
  def nearDupCandidatesIndexedMulti(stream: DataFrame, idxDirs: Seq[String],
                                    threshold: Double = 0.5): DataFrame = {
    val (sig, members) = MinhashIndex.artifact(stream.sparkSession, idxDirs)
    val idx = DedupQueries.bands(sig,
      col("doc_id").as("rep"), col("sh_sorted").as("sh_b"))
    val repHits = probeBands(stream).join(idx, Seq("band_id", "band_hash"))
      .select(col("stream_doc"), col("rep"),
        round(graft.functions.VectorOps.jaccard(col("sh_a"), col("sh_b")), 6)
          .as("jaccard"))
      .filter(col("jaccard") >= threshold)
    repHits.join(members, Seq("rep"))
      .select(col("stream_doc"), col("doc_id").as("corpus_doc"),
              col("jaccard"))
      .filter(col("stream_doc") =!= col("corpus_doc"))
  }

  /** The arriving documents' band rows (a stateless projection):
    * (stream_doc, sh_a, band_id, band_hash). */
  private def probeBands(stream: DataFrame): DataFrame =
    DedupQueries.bands(DedupQueries.signatures(stream),
      col("doc_id").as("stream_doc"), col("sh_sorted").as("sh_a"))
}
