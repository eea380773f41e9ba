package graft.pipeline

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.operators.{t, QueryFn}

/** Standing MinHash signature artifact — the scale path for repeated
  * near-dup sweeps (VERDICT r17 task 2).
  *
  * The inline pipeline ([[DedupQueries.minhashPairs]]) re-tokenizes,
  * re-shingles and re-hashes the corpus text on every sweep (four
  * column-pruned scans). At 100 TB those scans ARE the cost. This mirrors
  * the IVF standing-index pattern ([[IvfAnn.annIvfIndexed]]): materialize
  * the signature state ONCE — one pass over the text — then every
  * subsequent sweep probes the narrow artifact. The artifact is stored
  * CONTRACTED (the [[DedupQueries.contractExact]] form):
  *
  *  - `members.parquet` (doc_id, rep) — exact-duplicate group map, two
  *    longs per document;
  *  - `signatures.parquet` (doc_id, sh_sorted, sig) — one row per
  *    distinct-content REPRESENTATIVE.
  *
  * A probe runs band candidates + Jaccard verification over the
  * representative signatures only (the candidate join reads the pruned
  * (doc_id, sig) columns, verification the pruned (doc_id, sh_sorted)),
  * then expands to member pairs via thin id joins
  * ([[DedupQueries.expandPairs]]). Zero scans of `documents` per probe
  * (FactScanSpec pins 0); no array ever rides a duplication-scaled
  * exchange.
  *
  * Identical semantics to the inline pipeline by construction — the same
  * shared helpers end to end — so `q_dedup_minhash_indexed` runs against
  * the SAME DuckDB oracle as `q_dedup_minhash_lsh` and must produce the
  * same pairs (also pinned directly in MinhashIndexSpec). Lifecycle —
  * per-batch freshness, delta builds, compaction and atomic publish —
  * comes from [[DeltaIndex]]. Corpus×corpus broadcast safety is
  * engine-level ([[graft.plans.CorpusBroadcastGuard]]).
  */
object MinhashIndex {

  /** One-scan signature build under `outDir`: the contracted member map
    * plus per-representative (sh_sorted, sig). At 100 TB this is the only
    * pass over the text.
    *
    * `outDir` MUST be a private staging directory (publish atomically via
    * [[DeltaIndex.sync]], as every caller in this repo does): the
    * organic branch derives `members.parquet` by re-reading the
    * `signatures.parquet` it just wrote into the same directory, so a
    * build aimed at a LIVE artifact directory would expose a window with
    * fresh signatures next to absent/stale members to concurrent
    * readers. */
  def buildSignatures(docs: DataFrame, outDir: String): Unit = {
    val c = DedupQueries.contractExact(docs)
    // The artifact layout always carries a member map (the probe is
    // branch-free). Below the contraction floor every doc is its own
    // representative, so the map is the identity over the signature rows --
    // derived from the just-written narrow parquet (doc_id column only),
    // not from another pass over the corpus text. Same bytes the
    // contracted build would have produced on such a corpus (organic
    // groups are singletons with rep == min == doc_id), so artifacts stay
    // interchangeable across branches and code versions.
    write(outDir, DedupQueries.signatures(c.repDocs), c.members.getOrElse(
      read(docs.sparkSession, Seq(outDir), Signatures)
        .select(col("doc_id"), col("doc_id").as("rep"))))
    c.members.foreach(graft.Engine.releaseMaterialized)
  }

  /** The artifact layout: per batch dir, one parquet relation each. */
  private val Signatures = "signatures.parquet" // (doc_id, sh_sorted, sig)
  private val Members = "members.parquet" // (doc_id, rep)

  private def read(spark: SparkSession, dirs: Seq[String],
                   rel: String): DataFrame =
    Tables.readParquet(spark, dirs.map(d => s"$d/$rel"): _*)

  /** Writes one batch; `members` is evaluated after the signatures are
    * written (the organic build derives it from them). */
  private def write(dir: String, sig: DataFrame,
                    members: => DataFrame): Unit = {
    sig.write.mode("overwrite").parquet(s"$dir/$Signatures")
    members.write.mode("overwrite").parquet(s"$dir/$Members")
  }

  /** The artifact over the UNION of `dirs` (its live batches):
    * (per-representative signatures, member map). The one reader of the
    * layout: the batch probes, compaction and the stream probe
    * ([[graft.streaming.DocumentsStreaming.nearDupCandidatesIndexedMulti]])
    * all read through it. */
  private[graft] def artifact(spark: SparkSession,
                              dirs: Seq[String]): (DataFrame, DataFrame) =
    (read(spark, dirs, Signatures), read(spark, dirs, Members))

  /** Near-dup pairs from the standing signature artifact's live batches
    * (one dir for a single-batch artifact): representative candidates and
    * Jaccard ([[DedupQueries.signaturePairs]]), member expansion from the
    * member map. Same output as [[DedupQueries.minhashPairs]] over the
    * source corpus.
    *
    * Batches are the probe side of the incremental lifecycle
    * ([[DeltaIndex]]): each batch
    * carries the contracted signatures of ITS documents only, and the
    * union is exactly the single-build artifact's relation EXCEPT that an
    * exact-duplicate group split across batches appears as one
    * representative per batch. That changes nothing in the output: the
    * split reps' signatures are identical, so the band self-join emits
    * their candidate pair, verification scores it at Jaccard 1.0 (the same
    * value intra-group expansion pins), and member expansion of the rep
    * pair restores the cross-batch member pairs — the contraction-
    * invariance argument of [[DedupQueries.contractExact]], applied per
    * batch. DeltaIndexSpec pins equality against the inline pipeline on a
    * two-append corpus; the registry entry `q_dedup_minhash_delta` runs
    * the same DuckDB oracle as the inline sweep. */
  def pairsIndexedMulti(spark: SparkSession, idxDirs: Seq[String],
                        threshold: Double = 0.2): DataFrame = {
    val (sig, members) = artifact(spark, idxDirs)
    DedupQueries.expandPairs(DedupQueries.signaturePairs(sig, threshold),
      members, "jaccard", lit(1.0))
  }

  /** Prefix of the artifact root; the version is the artifact FORMAT
    * (contracted layout: members.parquet + per-rep signatures.parquet). */
  private[graft] val IncPrefix = "graft_minhash_inc_v1"

  /** Registry entry: reconcile the artifact with the gate corpus (one
    * batch, built on first use and reused by every later Verify/Bench
    * invocation), probe it. */
  val minhashIndexed: QueryFn = (s, dir) =>
    pairsIndexedMulti(s, ensureIncremental(s, dir))

  /** Reconcile the standing signature artifact with the source table's
    * current part files ([[DeltaIndex.sync]]), deriving signatures for
    * ONLY the new files (one delta batch per ingest), and return the live
    * batch dirs for [[pairsIndexedMulti]]. A daily append costs O(delta)
    * signature work; a rewritten corpus invalidates fully.
    *
    * `maxLiveBatches` > 0 makes the compaction cadence ENGINE-OWNED
    * (VERDICT r19 task 5): when a sync leaves more than that many live
    * batches, one [[compactIncremental]] rebase fires inline — steady-state
    * probe fan-in stays bounded without the caller scheduling OPTIMIZE.
    * `retainMillis` defers GC of retired batch dirs ([[DeltaIndex.sync]]). */
  def ensureIncremental(spark: SparkSession, sourceDir: String,
                        table: String = "documents", maxLiveBatches: Int = 0,
                        retainMillis: Long = 0L): Seq[String] = {
    val root = DeltaIndex.root(sourceDir, table, IncPrefix)
    val live = DeltaIndex.sync(spark, sourceDir, table, root, retainMillis) {
      (delta, staging, _) => buildSignatures(delta, staging)
    }
    if (maxLiveBatches > 0 && live.size > maxLiveBatches)
      compactIncremental(spark, sourceDir, table, retainMillis)
    else live.map(_.toString)
  }

  /** OPTIMIZE pass for the incremental artifact ([[DeltaIndex.compact]]):
    * rebase the live delta batches into one by UNIONING their payloads —
    * the batch partitions are already the contracted per-batch relations,
    * and [[pairsIndexedMulti]]'s output is invariant under how those
    * relations are partitioned (the cross-batch-duplicate argument in its
    * scaladoc), so concatenation IS the correct rebase. Reads only the
    * artifact's own parquet (never `documents` — DeltaIndexSpec compacts
    * with the source table deleted), so the periodic pass that bounds
    * probe-side batch-count growth costs O(artifact), not the O(corpus)
    * rebuild. Note the compacted batch keeps one representative PER
    * ORIGINAL BATCH for content duplicated across batches (byte-wise it
    * is the union, not a from-scratch single build); probe output is
    * identical either way. */
  def compactIncremental(spark: SparkSession, sourceDir: String,
                         table: String = "documents",
                         retainMillis: Long = 0L): Seq[String] = {
    val root = DeltaIndex.root(sourceDir, table, IncPrefix)
    DeltaIndex.compact(spark, root, retainMillis) { (batches, staging) =>
      val (sig, members) = artifact(spark, batches.map(_.toString))
      write(staging, sig, members)
    }.map(_.toString)
  }

  /** Two-append REHEARSAL on the gate corpus ([[DeltaIndex.rehearse]]):
    * batch 0 indexes ~2/3 of the documents (the standing corpus), batch 1
    * the remaining third (the append) — each build reads only its slice —
    * and the probe unions the two partitions. Runs the SAME DuckDB oracle
    * as the inline sweep, so the oracle gate hash-checks that an artifact
    * built in two appends answers exactly like the one-shot corpus sweep. */
  val minhashDelta: QueryFn = (s, dir) => {
    val src = rehearsal(s, dir, "graft_minhash_delta")
    pairsIndexedMulti(s, ensureIncremental(s, src))
  }

  /** COMPACTION rehearsal: the same two appends, then the real
    * [[compactIncremental]] rebase into ONE batch, probed alone. Same
    * oracle as the inline sweep, so a rebase that dropped a batch, doubled
    * one, or broke the cross-batch duplicate-representative invariant
    * hash-fails here. */
  val minhashCompact: QueryFn = (s, dir) => {
    val src = rehearsal(s, dir, "graft_minhash_compact")
    pairsIndexedMulti(s, compactIncremental(s, src))
  }

  private def rehearsal(s: SparkSession, dir: String, prefix: String): String =
    DeltaIndex.rehearse(s, dir, "documents", prefix,
      col("doc_id") % 3 < 2)(ensureIncremental(s, _))

  /** GROUPED answer (doc_id → cluster/survivor, the
    * [[CurationQueries.minhashCluster]] shape) probed from the STANDING
    * artifact — the production composition of the two round-19 pieces: a
    * sweep that re-reads neither the corpus text (artifact probe; the one
    * corpus access is a doc_id-pruned scan for sub-shingle-floor
    * singletons, which the artifact rightly excludes) nor emits member
    * pairs (components over the REPRESENTATIVE graph, labels expand
    * through the thin member map). Identical output to the inline grouped
    * sweep — same oracle — because the artifact's rep-level band/Jaccard
    * relation is the contraction of the corpus relation and component
    * labels are contraction-invariant (each group's rep is its min
    * doc_id, so min-over-reps = min-over-members per component). A group
    * split across batches has one rep per batch; the reps' Jaccard-1.0
    * pair joins them into one component (DeltaIndexSpec pins it). */
  def clusterIndexed(spark: SparkSession, idxDirs: Seq[String],
                     docs: DataFrame, threshold: Double = 0.2): DataFrame = {
    val (sig, members) = artifact(spark, idxDirs)
    val repLabels = CurationQueries.connectedComponents(
      sig.select(col("doc_id")), DedupQueries.signaturePairs(sig, threshold))
    CurationQueries.clusterColumns(
      CurationQueries.expandLabels(repLabels, members, docs))
  }

  /** Registry entry: same standing artifact as [[minhashIndexed]]
    * (amortized across both probes), grouped answer, same DuckDB oracle
    * as the inline grouped sweep. */
  val minhashClusterIndexed: QueryFn = (s, dir) =>
    clusterIndexed(s, ensureIncremental(s, dir), t(s, dir, "documents"))

  val all: Map[String, QueryFn] = Map(
    "q_dedup_minhash_indexed" -> minhashIndexed,
    "q_dedup_minhash_delta" -> minhashDelta,
    "q_dedup_minhash_compact" -> minhashCompact,
    "q_dedup_minhash_cluster_indexed" -> minhashClusterIndexed)
  val oracle: Map[String, String] = Map(
    "q_dedup_minhash_indexed" -> DedupQueries.minhashLshSql,
    "q_dedup_minhash_delta" -> DedupQueries.minhashLshSql,
    "q_dedup_minhash_compact" -> DedupQueries.minhashLshSql,
    "q_dedup_minhash_cluster_indexed" -> CurationQueries.minhashClusterSql)
}
