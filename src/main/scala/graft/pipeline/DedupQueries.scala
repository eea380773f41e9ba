package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DoubleType
import graft.functions.{FnvHash, SimHash}
import graft.operators.{t, QueryFn}
import graft.pipeline.TextQueries.tokens

/** Deduplication operators over `documents` — the core curation stage of a
  * training-data pipeline, in increasing sophistication:
  *
  *  1. exact      — content-hash groupBy (one shuffle on the fingerprint)
  *  2. n-gram Jaccard — prefix-filter inverted index, exact verification
  *  3. MinHash+LSH — shingle → signature → band buckets → candidate join
  *  4. SimHash    — 64-bit similarity fingerprint, banded hamming join
  *
  * Scale design (the part that matters at 100 TB):
  *  - Every variant reduces the O(n²) pair space to per-bucket joins:
  *    exact → hash equality; Jaccard → (lang, length-band) blocking;
  *    MinHash → LSH band buckets (8 bands × 4 rows ⇒ collision prob
  *    1-(1-j⁴)⁸, steep around j≈0.5); SimHash → 16-bit chunk equality
  *    (pigeonhole: hamming ≤ 3 ⇒ some chunk of 4 equal).
  *  - All shuffles key on the bucket id, so skew = bucket size, bounded by
  *    construction; AQE splits any hot bucket.
  *  - Signatures are computed in a single projection pass (codegen'd
  *    fnv_hash / our SimHash expression) — one scan, no UDF boundary.
  *  - The base string hash is the engine's own `fnv_hash` (FNV-1a, the
  *    reference's canonical hash — be/src/util/hash-util.h); minhash lanes
  *    apply a murmur fmix64 on top, so lane quality is finalizer-grade
  *    regardless of the base hash. Every stage is therefore a deterministic
  *    bit-op construction DuckDB can replay — [[minhashLshSql]] and
  *    [[simhashSql]] are full twins (hash-checked), not rows-only.
  */
object DedupQueries {

  private def normalized: Column = TextQueries.normalizedText(col("text"))

  /** Distinct 3-token shingles of the document text, carried as fnv_hash
    * values: `sh_hashes` (minhash input) and `sh_sorted` (sorted, for
    * linear-merge Jaccard). Hashing shingles to longs makes all downstream
    * set operations allocation-free; a collision between two of a doc's
    * ~10²-10³ shingles has probability ≈ n²/2⁶⁵ — never observable against
    * the string-set oracle. */
  private[graft] def shingled(d: DataFrame): DataFrame = {
    val toks = tokens(col("text"))
    d.select(col("doc_id"), col("lang"), toks.as("toks"))
      .filter(size(col("toks")) >= 3)
      .select(col("doc_id"), col("lang"), size(col("toks")).as("n_toks"),
        // One codegen'd pass (round 21, graft.functions.NgramFnv): fnv over
        // each distinct 3-gram's concat_ws bytes WITHOUT building the gram
        // strings — the previous transform(wordNgrams(...), fnv_hash) ran
        // two interpreted HOF passes per row (gram build + hash transform)
        // on every shingling pass, and the dedup tiers shingle the corpus
        // up to three times per query. Values are bit-equal gram hashes;
        // distinctness is by hash (identical grams always collapse; two
        // DISTINCT grams of one doc colliding is the ~2⁻⁶⁵-probability
        // event the hashed-shingle design already accepts — see the
        // sh_hashes scaladoc above).
        graft.functions.NgramFnv(col("toks"), 3).as("sh_hashes"))
      .withColumn("sh_sorted", sort_array(col("sh_hashes")))
  }

  private def jaccard(a: Column, b: Column): Column =
    graft.functions.VectorOps.jaccard(a, b)

  /** LSH banding geometry shared by the inline pipeline and the standing
    * signature artifact ([[MinhashIndex]]): 32 lanes, 8 bands × 4 rows. */
  private[pipeline] val MinhashLanes = 32
  private[pipeline] val MinhashBands = 8
  private[pipeline] val MinhashRowsPerBand = MinhashLanes / MinhashBands

  /** The 8 band hashes of a 32-lane signature column: xxhash64 over each
    * band's 4 consecutive lanes — an internal join-key compression (the
    * oracle joins on the raw 4-lane tuple; a 64-bit collision would need
    * odds ~2⁻⁶⁴ to diverge). Must stay identical between the inline and
    * indexed pipelines: both feed the same oracle. */
  private[graft] def bandHashes(sig: Column): Column =
    // one codegen'd static call (round 21, graft.functions.BandHashes):
    // the transform(sequence(...), xxhash64(element_at...)) form ran an
    // interpreted lambda per band per row; values bit-identical
    // (KernelEquivalenceSpec pins the fold against the composite)
    graft.functions.BandHashes(sig, MinhashBands, MinhashRowsPerBand)

  /** Exact-Jaccard verification of id-only candidate pairs by back-joining
    * one shingle-set row per doc (never carry arrays through the candidate
    * exchange — the round-17 lesson; [[graft.plans.CorpusBroadcastGuard]]
    * keeps every one of these joins off the broadcast path). */
  private def verifyJaccard(cand: DataFrame, sh: DataFrame,
                            threshold: Double): DataFrame = {
    val shA = sh.select(col("doc_id").as("doc_a"), col("sh_sorted").as("sh_a"))
    val shB = sh.select(col("doc_id").as("doc_b"), col("sh_sorted").as("sh_b"))
    cand.join(shA, Seq("doc_a"))
      .join(shB, Seq("doc_b"))
      .select(col("doc_a"), col("doc_b"),
              round(jaccard(col("sh_a"), col("sh_b")), 6).as("jaccard"))
      .filter(col("jaccard") >= threshold)
  }

  /** Id-only band-collision candidate pairs (doc_a < doc_b, distinct) from
    * a (band_id, band_hash, doc_id) frame. */
  private def bandCandidates(banded: DataFrame): DataFrame = {
    val a = banded.select(col("band_id"), col("band_hash"),
                          col("doc_id").as("doc_a"))
    val b = banded.select(col("band_id"), col("band_hash"),
                          col("doc_id").as("doc_b"))
    a.join(b, Seq("band_id", "band_hash"))
      .filter(col("doc_a") < col("doc_b"))
      .select(col("doc_a"), col("doc_b"))
      .distinct()
  }

  /** Exact dedup: one survivor (min doc_id) per content fingerprint.
    * Deliberately NO global ORDER BY: the result is a set, and a total sort
    * of the deduped corpus is a full range-exchange we'd pay at 100 TB for
    * nothing (the correctness gate sorts rows itself before hashing). */
  val exact: QueryFn = (s, dir) => exactFrame(t(s, dir, "documents"))
  def exactFrame(d: DataFrame): DataFrame =
    d.groupBy(md5(normalized.cast("binary")).as("fingerprint"))
      .agg(min(col("doc_id")).as("keeper_doc_id"), count(lit(1)).as("n_copies"))
  val exactSql: String =
    """SELECT md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS fingerprint,
      |  MIN(doc_id) AS keeper_doc_id, COUNT(1) AS n_copies
      |FROM documents GROUP BY 1""".stripMargin

  /** Exact n-gram Jaccard pairs: candidates restricted to the same language
    * and ±20-token length window, generated by a PPJoin-style prefix-filter
    * inverted index (exact recall — see [[AllPairs.jaccardPairs]]), then
    * verified with one codegen'd linear merge-intersection per candidate.
    * Fully distributed: the only shuffles are the (lang, prefix-shingle)
    * candidate equi-join (id pairs, no payload) and the two id-keyed
    * array-fetch joins for verification. */
  val ngramJaccard: QueryFn = (s, dir) =>
    ngramPairs(s, t(s, dir, "documents"), threshold = 0.2)

  /** Contracted n-gram Jaccard (same construction as [[minhashPairs]],
    * including the eager duplication-detection aggregate at construction
    * time — batch frames only; see [[contractExact]] —
    * the PPJoin relation is a pure function of (lang, text): lang is the
    * blocking key and participates in the fingerprint, the length window
    * and Jaccard are content functions — so the array-carrying prefix
    * index and verification run at organic content size and member pairs
    * expand through thin id joins). */
  private[graft] def ngramPairs(s: SparkSession, docs: DataFrame,
                                threshold: Double): DataFrame = {
    val c = contractExact(docs)
    c.expand(
      AllPairs.jaccardPairs(s, shingled(c.repDocs), lenWindow = 20, threshold),
      "jaccard", lit(1.0))
  }
  val ngramJaccardSql: String =
    """WITH sh AS (
      |  SELECT doc_id, lang, len(toks) AS n_toks,
      |    list_distinct(list_transform(range(0, len(toks)-2),
      |      i -> toks[i+1] || ' ' || toks[i+2] || ' ' || toks[i+3])) AS shingles
      |  FROM (SELECT doc_id, lang,
      |          regexp_split_to_array(trim(text), '\s+') AS toks
      |        FROM documents)
      |  WHERE len(toks) >= 3),
      |p AS (
      |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
      |    ROUND(CAST(len(list_intersect(a.shingles, b.shingles)) AS DOUBLE) /
      |      (len(a.shingles) + len(b.shingles)
      |       - len(list_intersect(a.shingles, b.shingles))), 6) AS jaccard
      |  FROM sh a JOIN sh b
      |    ON a.lang = b.lang AND a.doc_id < b.doc_id
      |   AND abs(a.n_toks - b.n_toks) <= 20)
      |SELECT doc_a, doc_b, jaccard FROM p WHERE jaccard >= 0.2
      |ORDER BY doc_a, doc_b""".stripMargin

  /** The same exact pipeline at t = 0.8 — the threshold real dedup runs at,
    * where the PPJoin prefix filter explodes only ~20% of each shingle set
    * (vs ~83% at the t=0.2 stress case above). Registering both makes the
    * filter's selectivity itself regression-visible: a prefix-length bug
    * that silently drops candidates fails THIS query's oracle (DuckDB
    * brute-forces all pairs, so its recall is always total). */
  val ngramJaccardHi: QueryFn = (s, dir) =>
    ngramPairs(s, t(s, dir, "documents"), threshold = 0.8)
  val ngramJaccardHiSql: String =
    ngramJaccardSql.replace("jaccard >= 0.2", "jaccard >= 0.8")

  /** MinHash + LSH near-dup pairs: 32-hash signatures, 8 bands × 4 rows,
    * candidates from band-bucket collisions, verified with exact Jaccard.
    * Oracle-checked ([[minhashLshSql]] replays the full construction —
    * fnv_hash shingles, fmix64 lanes, band-collision candidates — in
    * DuckDB); planted-duplicate exactness and candidate recall vs
    * [[ngramJaccard]] additionally pinned in DedupSpec. */
  val minhashLsh: QueryFn = (s, dir) => minhashPairs(t(s, dir, "documents"))

  /** MinHash signatures of any (doc_id, lang, text, ...) frame:
    * (doc_id, sh_sorted, sig), one row per document above the shingle
    * floor. The one shingle → signature step: the inline sweep, the
    * standing artifact's build ([[MinhashIndex.buildSignatures]]) and the
    * stream probes ([[graft.streaming.DocumentsStreaming]]) all derive
    * their signatures here. Pure projections, so legal on a STREAMING
    * frame. Shingle hashes come from shingled(); one codegen'd loop
    * derives all 32 lanes (graft.functions.VectorOps.minhash32) — the
    * nested-HOF formulation ran interpreted closures per (shingle, lane)
    * pair and dominated runtime. */
  private[graft] def signatures(docs: DataFrame): DataFrame =
    shingled(docs).select(col("doc_id"), col("sh_sorted"),
      graft.functions.VectorOps.minhashSignature(col("sh_hashes")).as("sig"))

  /** Band rows of a signature frame: the `keep` columns plus
    * (band_id, band_hash), one row per band. A projection and a
    * posexplode — no shuffle, no state. */
  private[graft] def bands(sig: DataFrame, keep: Column*): DataFrame =
    sig.select(keep :+ posexplode(bandHashes(col("sig")))
      .as(Seq("band_id", "band_hash")): _*)

  /** Verified near-dup pairs (doc_a < doc_b, jaccard) of a
    * (doc_id, sh_sorted, sig) frame: id-only band-collision candidates,
    * then the exact-Jaccard back-join. Serves the inline sweep (over
    * [[signatures]] of the documents) and the standing artifact (over its
    * per-representative signature rows). */
  private[graft] def signaturePairs(sig: DataFrame,
                                    threshold: Double): DataFrame =
    verifyJaccard(bandCandidates(bands(sig, col("doc_id"))), sig, threshold)

  /** Exact-duplicate contraction for content-determined pair pipelines
    * (round-18, the second SF30 lesson): every relation this file computes
    * is a pure function of the text (shingles, signatures, band hashes,
    * Jaccard), so bit-identical documents are interchangeable as pair
    * endpoints and their pairwise relation is always (candidate, j = 1.0).
    * On a duplicate-heavy corpus the verify exchange otherwise grows with
    * the SQUARE of the duplication factor in *array-payload* rows — the
    * SF30 rehearsal corpus (300 identical copies per doc) built a ~50 GB
    * shuffle that out-ran the host scratch (ENOSPC) even on the cluster
    * that ran the uncontracted r17 shape at 257 s. Contraction bounds
    * every array-carrying stage by ORGANIC content size; only thin
    * (doc_a, doc_b, jaccard) rows scale with duplication — and those are
    * the answer itself.
    *
    * Returns a [[Contraction]]: (members(doc_id, rep) -- materialized,
    * eligible docs only -- plus the representatives' (doc_id, lang, text)
    * frame) when duplication is MATERIAL, or the caller's frame untouched
    * when it is not. Grouping is by md5(lang, NUL, text) -- finer than
    * minhash/simhash strictly need (they ignore lang), which is always
    * SAFE: split groups just reconnect through their representatives'
    * candidate pair. `eligible` is the operator's own
    * can-this-doc-ever-pair floor (shingle tiers: >= 3 tokens, matching
    * shingled()'s filter; simhash: non-null text) -- ineligible docs
    * produce no pairs in either engine, and must not be conflated by a
    * fingerprint collision (e.g. null vs empty text).
    *
    * **Adaptive decision** (round-18 follow-up): on an ORGANIC corpus the
    * member map, the representative fetch join and the three expansion
    * joins all move corpus-cardinality rows and buy nothing -- measured
    * at +0.25-0.4 s per sweep at sf0.1, and at 100 TB it is five wasted
    * corpus-cardinality joins. (Organic is also the EXPECTED regime: real
    * curation runs the exact tier first, so near-dup sweeps usually see a
    * corpus already free of identical copies.) The decision statistic is
    * the DUPLICATE PAIR MASS -- the sum over fingerprint groups of
    * g*(g-1)/2, exactly the count of extra array-carrying verify/edge
    * rows the uncontracted pipeline would ship -- compared against
    * [[ContractionFloor]] of the eligible cardinality. It is an EXACT
    * statistic, so it is skew-safe where an approximate distinct count is
    * not: one pathological million-copy group among 10^10 organic docs
    * moves an approx NDV by noise but trips this floor by 10^4 times.
    * Below the floor the uncontracted pipeline runs as-is (identical
    * output -- DedupSpec pins equality in both regimes -- and its
    * <= n/100 extra verify rows are cheaper than the contraction joins);
    * strictly above it (the guard is `dupPairs <= floor·n` → skip, so the
    * exact boundary stays uncontracted) every array-carrying stage runs at
    * organic content size. The detection pass is one narrow aggregate (fingerprint ->
    * per-group count -> 1-row collect), map-side combinable, <= 24
    * bytes/doc on the wire. The contract branch then recomputes the
    * fingerprint aggregate once more for the member map -- deliberately:
    * persisting the per-group frame to save that recompute would cache a
    * distinct-content-cardinality frame on EVERY organic sweep (where
    * distinct content ~= the whole corpus), taxing the common case to
    * spare the rare duplication-heavy one a second narrow pass that is
    * noise next to the contraction's own savings. */
  private[graft] def contractExact(
      d0: DataFrame,
      eligible: Column = size(tokens(col("text"))) >= 3): Contraction = {
    // The adaptive decision below executes an eager action (dupPairMass's
    // 1-row collect) at frame-CONSTRUCTION time — fail fast with a clear
    // message on a streaming frame instead of an opaque AnalysisException
    // from inside head(). Streaming near-dup goes through the stateless
    // signatures()/bands() stream-static paths (DocumentsStreaming), never
    // through contraction.
    require(!d0.isStreaming,
      "contractExact decides eagerly (one corpus aggregate at plan-build " +
        "time); not usable on streaming frames — see DocumentsStreaming " +
        "for the streaming near-dup paths")
    val d = d0.select(col("doc_id"), col("lang"), col("text"))
    val withFp = d.select(col("doc_id"), col("lang"), col("text"),
        contentFp(eligible).as("fp"))
      .filter(col("fp").isNotNull)
    val (nDocs, dupPairs) =
      dupPairMass(withFp.select(col("doc_id"), col("fp")))
    if (dupPairs <= ContractionFloor * nDocs) Contraction(None, d)
    else {
      val grp = withFp.groupBy(col("fp")).agg(min(col("doc_id")).as("rep"))
      val members = graft.Engine.materialize(
        withFp.select(col("doc_id"), col("fp"))
          .join(grp, Seq("fp"))
          .select(col("doc_id"), col("rep")))
      val repDocs = d.join(
        members.filter(col("doc_id") === col("rep")).select(col("rep")),
        col("doc_id") === col("rep")).drop("rep")
      Contraction(Some(members), repDocs)
    }
  }

  /** Contraction outcome: `members` + contracted `repDocs` when the
    * corpus duplication is material, or (None, the caller's original
    * frame) when it is not. [[expand]] maps representative-level pairs
    * back to member level -- a no-op BY CONSTRUCTION (no expansion joins
    * planned at all), not just by value, on the skip branch. */
  private[graft] final case class Contraction(
      members: Option[DataFrame], repDocs: DataFrame) {
    def contracted: Boolean = members.isDefined
    /** The representatives' ids, read from the member map when there is
      * one (so a plan over them never goes back to the corpus). */
    def repIds: DataFrame = members.fold(repDocs.select(col("doc_id")))(
      _.filter(col("doc_id") === col("rep")).select(col("doc_id")))
    def expand(repPairs: DataFrame, valueCol: String,
               intraValue: Column): DataFrame =
      members.fold(repPairs)(m =>
        expandPairs(repPairs, m, valueCol, intraValue))
  }

  /** Duplicate-pair-mass floor as a fraction of eligible corpus
    * cardinality: contract iff the mass exceeds 1 % of n. See
    * [[contractExact]]'s decision note. */
  private val ContractionFloor = 0.01

  /** (eligible doc count, duplicate pair mass = sum over fingerprint
    * groups of g*(g-1)/2) of a fingerprinted `(doc_id, fp)` frame -- one
    * aggregate pass, 1-row collect. Mass accumulates in Double: it is a
    * threshold statistic, not an answer, and ULP loss above 2^53 cannot
    * meaningfully move a comparison against 1 % of a Long-ranged count. */
  private def dupPairMass(withFp: DataFrame): (Long, Double) = {
    val r = withFp
      .groupBy(col("fp")).agg(count(lit(1)).as("cnt"))
      .agg(coalesce(sum(col("cnt")), lit(0L)).as("n"),
           coalesce(sum(col("cnt").cast("double") * (col("cnt") - 1) / 2),
                    lit(0.0)).as("dup_pairs"))
      .head()
    (r.getLong(0), r.getDouble(1))
  }

  /** md5 content fingerprint over (lang, text), null iff ineligible. The
    * NUL separator keeps (lang="a", text="b...") distinct from
    * (lang="ab", text="..."). */
  private def contentFp(eligible: Column): Column =
    when(eligible, md5(concat(coalesce(col("lang"), lit("")),
      lit("\u0000"), col("text")).cast("binary")))

  /** Expand representative-level pairs back to member-level pairs:
    * intra-group = all ordered member pairs at the identical-content value
    * (`intraValue` — Jaccard 1.0, SimHash hamming 0); cross-group = the
    * rep pair's value for every (a, b) in A × B, ordered with
    * least/greatest. Only thin id rows move — no array ever rides an
    * expansion exchange. */
  private[pipeline] def expandPairs(repPairs: DataFrame, members: DataFrame,
                                    valueCol: String,
                                    intraValue: Column): DataFrame = {
    val m1 = members.select(col("rep"), col("doc_id").as("doc_a"))
    val m2 = members.select(col("rep"), col("doc_id").as("doc_b"))
    val intra = m1.join(m2, Seq("rep"))
      .filter(col("doc_a") < col("doc_b"))
      .select(col("doc_a"), col("doc_b"), intraValue.as(valueCol))
    val ma = members.select(col("rep").as("ra"), col("doc_id").as("ida"))
    val mb = members.select(col("rep").as("rb"), col("doc_id").as("idb"))
    val cross = repPairs
      .join(ma, col("doc_a") === col("ra"))
      .join(mb, col("doc_b") === col("rb"))
      .select(least(col("ida"), col("idb")).as("doc_a"),
              greatest(col("ida"), col("idb")).as("doc_b"),
              col(valueCol))
    intra.union(cross)
  }

  /** The MinHash pipeline on any (doc_id, text, lang, ...) frame —
    * parameterized so specs can run it over planted duplicates.
    *
    * Candidate generation is ID-ONLY, verification is a back-join (the
    * round-17 SF30-cluster find): the earlier shape carried each doc's
    * full `sh_sorted` array through the band self-join — 8 copies of the
    * shingle set per document in the exchange, and a planner size
    * estimate (derived from the compressed scan) orders of magnitude
    * under the true in-memory row width, which at SF30 made the static
    * planner pick a BroadcastHashJoin whose build side then blew past the
    * driver heap ("Not enough memory to build and broadcast"). Narrow
    * (band_id, band_hash, doc_id) rows shrink the candidate exchange ~8×
    * in payload; the self-join takes the co-partitioned sort-merge form —
    * both sides shuffle on the same key, so one exchange feeds both and no
    * broadcast of a corpus-sized relation can ever be attempted, at any
    * scale. That guarantee is no longer a per-site hint: the engine-level
    * [[graft.plans.CorpusBroadcastGuard]] stamps every corpus×corpus join
    * (both sides collection-typed and scan-derived) NO_BROADCAST_HASH at
    * plan time — DedupSpec asserts it on this pipeline's EXECUTED plan,
    * CorpusBroadcastGuardSpec on the logical stamps. The same blindness
    * recurred on the verify back-joins (a ~100 MB estimate under the sized
    * 128 MB threshold for a multi-GB true HashedRelation); the guard
    * covers them identically. Jaccard verification joins the (far smaller)
    * deduplicated candidate pairs back to one shingle-set row per doc.
    *
    * The whole array-carrying pipeline runs over exact-duplicate
    * REPRESENTATIVES ([[contractExact]]) and pairs expand back to members
    * as thin id rows ([[expandPairs]]) — identical output (signatures and
    * Jaccard are content functions; DedupSpec pins equality to the
    * uncontracted form), but the shuffle volume is bounded by organic
    * content size instead of growing with duplication².
    *
    * NOTE: the adaptive contraction decision runs ONE EAGER corpus
    * aggregate when this frame is CONSTRUCTED (not when it is executed) —
    * batch frames only, and plan-only tooling (explain,
    * `graft.Bench audit`) pays that narrow pass too. See
    * [[contractExact]]. */
  def minhashPairs(docs: DataFrame): DataFrame = {
    val c = contractExact(docs)
    c.expand(minhashPairsUncontracted(c.repDocs), "jaccard", lit(1.0))
  }

  /** The raw (uncontracted) pipeline — the shape that runs over the
    * representatives; also the spec oracle for [[minhashPairs]]. */
  private[graft] def minhashPairsUncontracted(docs: DataFrame): DataFrame =
    signaturePairs(signatures(docs), threshold = 0.2)

  /** SimHash near-dup pairs: 64-bit fingerprints from token hashes, banded
    * into 4×16-bit chunks (pigeonhole guarantee for hamming ≤ 3), verified
    * by exact hamming distance ≤ 6. Oracle-checked ([[simhashSql]] rebuilds
    * the 64-bit vote fingerprint from fnv_hash token hashes in DuckDB);
    * semantics additionally pinned in DedupSpec. */
  val simhash: QueryFn = (s, dir) => simhashPairs(t(s, dir, "documents"))

  def simhashPairs(d: DataFrame): DataFrame = {
    // Same contraction as minhash: the fingerprint, chunk buckets and
    // hamming distance are pure content functions, so identical docs
    // expand at hamming 0 and cross pairs at the rep pair's hamming.
    // Eligibility is simhash's own: ANY non-null text can pair (even
    // empty or single-token — the vote fingerprint exists), only a null
    // text yields no token rows in either engine. Like every contracted
    // entry point, frame CONSTRUCTION runs the eager detection aggregate
    // (batch frames only — contractExact rejects streaming input).
    // On the skip branch repDocs is the caller's frame verbatim; re-apply
    // the null floor so the uncontracted pipeline never sees a null text
    // (contracted repDocs is already eligibility-filtered via the
    // fingerprint). Redundant on the contract branch, one cheap predicate
    // on the skip branch.
    val c = contractExact(d, eligible = col("text").isNotNull)
    val rep =
      if (c.contracted) c.repDocs else c.repDocs.filter(col("text").isNotNull)
    c.expand(simhashPairsUncontracted(rep), "hamming", lit(0))
  }

  /** The raw (uncontracted) simhash pipeline — runs over representatives;
    * also the spec oracle for [[simhashPairs]]. */
  private[graft] def simhashPairsUncontracted(d: DataFrame): DataFrame = {
    val fp = d.select(col("doc_id"),
      // elementwise-fnv kernel (round 21): transform(tokens, fnv_hash) ran
      // an interpreted lambda per token; fnv_hash_array is one codegen'd
      // static call with identical values and per-element null handling
      SimHash(graft.functions.FnvHashArray(tokens(col("text")))).as("simhash"))
    val banded = fp.select(col("doc_id"), col("simhash"),
      posexplode(transform(sequence(lit(0), lit(3)),
        bnd => call_function("shiftrightunsigned", col("simhash"), bnd * 16)
          .bitwiseAND(lit(0xffffL)))))
      .withColumnRenamed("pos", "band_id")
      .withColumnRenamed("col", "chunk")
    val a = banded.select(col("band_id"), col("chunk"),
                          col("doc_id").as("doc_a"), col("simhash").as("sh_a"))
    val b = banded.select(col("band_id"), col("chunk"),
                          col("doc_id").as("doc_b"), col("simhash").as("sh_b"))
    a.join(b, Seq("band_id", "chunk"))
      .filter(col("doc_a") < col("doc_b"))
      .select(col("doc_a"), col("doc_b"),
              bit_count(col("sh_a").bitwiseXOR(col("sh_b"))).as("hamming"))
      .distinct()
      .filter(col("hamming") <= 6)
  }

  /** Exact embedding-cosine near-dup pairs via the distributed block-pair
    * cartesian ([[AllPairs.embeddingPairs]] — O(n·B) payload movement, the
    * O(n²) arithmetic stays in executor-side primitive loops). Exact
    * all-pairs is inherently quadratic compute; the approximate scale tier
    * is [[SimilarityQueries.annLsh]]/IVF. Cosine is computed in index-order
    * double arithmetic in both engines, rounded to 6dp before the threshold
    * so the filter can't flip on ULPs. */
  val embeddingCosine: QueryFn = (s, dir) =>
    AllPairs.embeddingPairs(s, t(s, dir, "embeddings"), threshold = 0.4)
  val embeddingCosineSql: String =
    """WITH n AS (
      |  SELECT vec_id, embedding,
      |    sqrt(list_aggregate(list_transform(embedding,
      |      x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), 'sum')) AS norm
      |  FROM embeddings WHERE norm > 0), -- DuckDB lateral alias; NaN-cosine parity, see AllPairs
      |p AS (
      |  SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
      |    ROUND(list_aggregate(list_transform(range(1, len(a.embedding) + 1),
      |            i -> CAST(a.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE)), 'sum')
      |          / (a.norm * b.norm), 6) AS cosine
      |  FROM n a JOIN n b ON a.vec_id < b.vec_id)
      |SELECT vec_a, vec_b, cosine FROM p WHERE cosine >= 0.4
      |ORDER BY vec_a, vec_b""".stripMargin

  // ---- DuckDB twins for the hash-sketch tiers ------------------------
  // The constructions are deterministic bit-op chains, so the oracle
  // replays them exactly: unsigned 64-bit arithmetic rides in HUGEINT
  // (mod-2^64 after every multiply; 64×64 products split at 2^32 so no
  // intermediate exceeds the signed-128 HUGEINT range), while xor and
  // comparisons ride in signed BIGINT — the same two-domain trick as the
  // q_fnv_hash twin, mechanically generated here because the fmix64 lane
  // chain repeats 32×.

  private val T64 = "CAST('18446744073709551616' AS HUGEINT)" // 2^64
  private val S63 = "CAST('9223372036854775808' AS HUGEINT)"  // 2^63

  /** Lateral-alias columns computing signed FNV-1a-64 of string expression
    * `sExpr`: `<p>u` (unsigned HUGEINT) and `<p>` (signed). Hashes the
    * string's UTF-8 BYTES — each code point is expanded to its 1–4
    * encoded octets in SQL (the CASE ladder below is the UTF-8 encoding
    * rule verbatim) — matching [[graft.functions.FnvHash]]'s
    * `hashUtf8`, which walks `UTF8String` bytes. A per-character `ascii()`
    * walk would only agree on ASCII text (and the low-byte-xor step would
    * be wrong for code points ≥ 256): non-ASCII document bodies hash
    * identically under this form. */
  /** UTF-8 byte list of string expression `sExpr` in DuckDB SQL: each code
    * point expanded to its 1–4 encoded octets (the CASE ladder is the
    * UTF-8 encoding rule verbatim). Shared by every byte-walking oracle
    * twin ([[fnvCols]], [[TextQueries.winnowFpSql]]). */
  private[pipeline] def utf8BytesSql(sExpr: String): String =
    s"""flatten(list_transform(range(1, len($sExpr)+1),
       |        i -> CASE
       |          WHEN unicode($sExpr[i]) < 128 THEN [unicode($sExpr[i])]
       |          WHEN unicode($sExpr[i]) < 2048 THEN
       |            [192 + unicode($sExpr[i]) // 64,
       |             128 + unicode($sExpr[i]) % 64]
       |          WHEN unicode($sExpr[i]) < 65536 THEN
       |            [224 + unicode($sExpr[i]) // 4096,
       |             128 + (unicode($sExpr[i]) // 64) % 64,
       |             128 + unicode($sExpr[i]) % 64]
       |          ELSE
       |            [240 + unicode($sExpr[i]) // 262144,
       |             128 + (unicode($sExpr[i]) // 4096) % 64,
       |             128 + (unicode($sExpr[i]) // 64) % 64,
       |             128 + unicode($sExpr[i]) % 64]
       |        END))""".stripMargin

  private[pipeline] def fnvCols(sExpr: String, p: String): String =
    s"""list_reduce(list_prepend(CAST('14695981039346656037' AS HUGEINT),
       |      list_transform(${utf8BytesSql(sExpr)}, b -> CAST(b AS HUGEINT))),
       |      (acc, x) -> ((acc - acc % 256
       |                    + xor(CAST(acc % 256 AS BIGINT), CAST(x AS BIGINT)))
       |                   * 1099511628211) % $T64) AS ${p}u,
       |    CASE WHEN ${p}u >= $S63 THEN CAST(${p}u - $T64 AS BIGINT)
       |         ELSE CAST(${p}u AS BIGINT) END AS $p""".stripMargin

  /** Lateral-alias chain for minhash lane `i` over signed base hash column
    * `h`: v = fmix64(h ⊕ i·golden), emitted as signed `l{i}v` — the exact
    * [[graft.functions.VectorOps.minhash32]] lane. Steps alternate signed
    * (xor) and unsigned (shift/multiply) representations. */
  private def laneCols(i: Int): String = {
    val g = (i.toLong * 0x9e3779b97f4a7c15L).toString // wraps = mod 2^64
    val c1 = "18397679294719823053"; val c1lo = "3981806797" // 0xff51afd7ed558ccd
    val c2 = "14181476777654086739"; val c2lo = "444984403"  // 0xc4ceb9fe1a85ec53
    val p = s"l$i"
    s"""xor(h, CAST('$g' AS BIGINT)) AS ${p}a,
       |    CAST(${p}a AS HUGEINT) + CASE WHEN ${p}a < 0 THEN $T64 ELSE CAST(0 AS HUGEINT) END AS ${p}ua,
       |    xor(${p}a, CAST(${p}ua // 8589934592 AS BIGINT)) AS ${p}b,
       |    CAST(${p}b AS HUGEINT) + CASE WHEN ${p}b < 0 THEN $T64 ELSE CAST(0 AS HUGEINT) END AS ${p}ub,
       |    ((${p}ub % 4294967296) * CAST('$c1' AS HUGEINT)
       |     + ((${p}ub // 4294967296) * $c1lo % 4294967296) * 4294967296) % $T64 AS ${p}uc,
       |    CASE WHEN ${p}uc >= $S63 THEN CAST(${p}uc - $T64 AS BIGINT) ELSE CAST(${p}uc AS BIGINT) END AS ${p}c,
       |    xor(${p}c, CAST(${p}uc // 8589934592 AS BIGINT)) AS ${p}d,
       |    CAST(${p}d AS HUGEINT) + CASE WHEN ${p}d < 0 THEN $T64 ELSE CAST(0 AS HUGEINT) END AS ${p}ud,
       |    ((${p}ud % 4294967296) * CAST('$c2' AS HUGEINT)
       |     + ((${p}ud // 4294967296) * $c2lo % 4294967296) * 4294967296) % $T64 AS ${p}ue,
       |    CASE WHEN ${p}ue >= $S63 THEN CAST(${p}ue - $T64 AS BIGINT) ELSE CAST(${p}ue AS BIGINT) END AS ${p}e,
       |    xor(${p}e, CAST(${p}ue // 8589934592 AS BIGINT)) AS ${p}v""".stripMargin
  }

  /** Full MinHash+LSH twin: shingle → fnv hash → 32 fmix64 lanes →
    * per-doc signed MIN per lane → 8 band joins on the raw 4-lane tuple
    * (the Spark side joins on xxhash64 of the tuple — an internal join-key
    * compression the oracle skips; a band-hash collision would need odds
    * ~2⁻⁶⁴ to diverge) → exact Jaccard over the per-doc hash sets. */
  val minhashLshSql: String = {
    val lanes = (0 until 32).map(laneCols).mkString(",\n    ")
    val mins = (0 until 32).map(i => s"MIN(l${i}v) AS s$i").mkString(", ")
    val bands = (0 until 8).map { b =>
      val ks = (0 until 4).map(r => s"s${b * 4 + r} AS k${r}").mkString(", ")
      s"SELECT doc_id, $b AS band_id, $ks FROM sig"
    }.mkString("\n  UNION ALL ")
    s"""WITH toks AS (
       |  SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS toks
       |  FROM documents),
       |sh0 AS (
       |  SELECT doc_id, list_distinct(list_transform(range(0, len(toks)-2),
       |    i -> toks[i+1] || ' ' || toks[i+2] || ' ' || toks[i+3])) AS shingles
       |  FROM toks WHERE len(toks) >= 3),
       |exsh AS (SELECT doc_id, unnest(shingles) AS s FROM sh0),
       |exh AS (
       |  SELECT doc_id,
       |    ${fnvCols("s", "h")}
       |  FROM exsh),
       |shh AS (SELECT doc_id, list(h) AS hl FROM exh GROUP BY doc_id),
       |mix AS (
       |  SELECT doc_id, h,
       |    $lanes
       |  FROM exh),
       |sig AS (SELECT doc_id, $mins FROM mix GROUP BY doc_id),
       |bands AS (
       |  $bands),
       |cand AS (
       |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
       |  FROM bands a JOIN bands b
       |    ON a.band_id = b.band_id AND a.k0 = b.k0 AND a.k1 = b.k1
       |   AND a.k2 = b.k2 AND a.k3 = b.k3 AND a.doc_id < b.doc_id),
       |p AS (
       |  SELECT c.doc_a, c.doc_b,
       |    ROUND(CAST(len(list_intersect(x.hl, y.hl)) AS DOUBLE) /
       |      (len(x.hl) + len(y.hl) - len(list_intersect(x.hl, y.hl))), 6)
       |      AS jaccard
       |  FROM cand c JOIN shh x ON c.doc_a = x.doc_id
       |              JOIN shh y ON c.doc_b = y.doc_id)
       |SELECT doc_a, doc_b, jaccard FROM p WHERE jaccard >= 0.2""".stripMargin
  }

  /** Full SimHash twin: token → fnv hash → 64 per-bit vote sums → vote-sign
    * fingerprint → 4×16-bit chunk-collision candidates → hamming ≤ 6. */
  val simhashSql: String = {
    val votes = (0 until 64).map { b =>
      val pow = java.math.BigInteger.TWO.pow(b).toString
      s"SUM(CASE WHEN (hu // $pow) % 2 = 1 THEN 1 ELSE -1 END) AS v$b"
    }.mkString(",\n    ")
    val fp = (0 until 64).map { b =>
      val pow = java.math.BigInteger.TWO.pow(b).toString
      s"CASE WHEN v$b > 0 THEN CAST('$pow' AS HUGEINT) ELSE CAST(0 AS HUGEINT) END"
    }.mkString("\n     + ")
    val chunks = (0 until 4).map { b =>
      val pow = java.math.BigInteger.TWO.pow(16 * b).toString
      s"SELECT doc_id, fp, $b AS band_id, CAST((fu // $pow) % 65536 AS BIGINT) AS chunk FROM fps"
    }.mkString("\n  UNION ALL ")
    s"""WITH tk AS (
       |  SELECT doc_id, unnest(regexp_split_to_array(trim(text), '\\s+')) AS s
       |  FROM documents),
       |th AS (
       |  SELECT doc_id,
       |    ${fnvCols("s", "h")}
       |  FROM tk),
       |votes AS (
       |  SELECT doc_id,
       |    $votes
       |  FROM (SELECT doc_id, hu FROM th) GROUP BY doc_id),
       |fps AS (
       |  SELECT doc_id,
       |    ($fp) AS fu,
       |    CASE WHEN fu >= $S63 THEN CAST(fu - $T64 AS BIGINT)
       |         ELSE CAST(fu AS BIGINT) END AS fp
       |  FROM votes),
       |bands AS (
       |  $chunks),
       |cand AS (
       |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
       |         a.fp AS fa, b.fp AS fb
       |  FROM bands a JOIN bands b
       |    ON a.band_id = b.band_id AND a.chunk = b.chunk AND a.doc_id < b.doc_id)
       |SELECT doc_a, doc_b, CAST(bit_count(xor(fa, fb)) AS INTEGER) AS hamming
       |FROM cand WHERE bit_count(xor(fa, fb)) <= 6""".stripMargin
  }

  val all: Map[String, QueryFn] = Map(
    "q_dedup_exact" -> exact,
    "q_dedup_ngram_jaccard" -> ngramJaccard,
    "q_dedup_ngram_jaccard_hi" -> ngramJaccardHi,
    "q_dedup_minhash_lsh" -> minhashLsh,
    "q_dedup_simhash" -> simhash,
    "q_dedup_embedding" -> embeddingCosine)

  val oracle: Map[String, String] = Map(
    "q_dedup_exact" -> exactSql,
    "q_dedup_ngram_jaccard" -> ngramJaccardSql,
    "q_dedup_ngram_jaccard_hi" -> ngramJaccardHiSql,
    "q_dedup_minhash_lsh" -> minhashLshSql,
    "q_dedup_simhash" -> simhashSql,
    "q_dedup_embedding" -> embeddingCosineSql)
}
