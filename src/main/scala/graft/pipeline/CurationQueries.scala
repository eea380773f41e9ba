package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DoubleType
import graft.operators.{t, QueryFn}
import graft.pipeline.TextQueries.tokens

/** Corpus-curation operators that sit ON TOP of the pairwise dedup tiers —
  * the stages a 100 TB training-data pipeline runs after candidate
  * generation: near-dup CLUSTERING (pairs → components → one canonical doc
  * per cluster), DECONTAMINATION (n-gram overlap against the eval split),
  * PII detection/redaction, and TF-IDF term weighting.
  *
  * No analogue in the reference engine (pure SQL engine); these are the
  * operations the brief's training-data-pipeline mandate adds on top of
  * SURVEY §2. Scale design per operator:
  *
  *  - Clustering: min-label propagation + pointer jumping over the
  *    near-dup pair graph. Each round is a bounded number of shuffles keyed
  *    on node id, and the pointer-jump step (label := label's label, the
  *    shortcutting move large-star/small-star algorithms build on — Kiveris
  *    et al., "Connected Components in MapReduce") doubles label reach per
  *    round, so rounds = O(log diameter) even on adversarial chains; the
  *    near-clique components real near-dup graphs produce converge in 1-3.
  *    The edge list is the dedup tier's output — orders of magnitude smaller
  *    than the corpus — and the label frame carries (id, label) longs only.
  *  - Decontamination: the eval split's distinct n-gram set is broadcast
  *    (eval benchmarks are MBs against a 100 TB train corpus), so the scan
  *    stays shuffle-free on the train side until the final per-doc count.
  *  - PII / TF-IDF: codegen'd projections; TF-IDF's only shuffles are the
  *    two grouped aggregates ((doc,term) then term), both map-side-combined.
  */
object CurationQueries {

  // ---------------------------------------------------------------- cluster

  /** Near-dup clustering: exact Jaccard pairs at t=0.8 (the production
    * dedup threshold, same tier as q_dedup_ngram_jaccard_hi) become edges;
    * connected components labels every document with the min doc_id of its
    * component; the canonical survivor is the label-holder itself. Output is
    * the full per-document assignment — the frame a pipeline would
    * anti-join against to drop non-canonical near-dups.
    *
    * **Exact-duplicate contraction first** (the round-18 scale fix): every
    * near-dup relation here is a pure function of `(lang, text)` — equal
    * content ⇒ equal token sequence ⇒ equal shingle set, length band and
    * Jaccard — so identical documents are ALWAYS mutual near-dups (j = 1.0
    * ≥ 0.8) and interchangeable as pair endpoints. Grouping the corpus by
    * an md5 content fingerprint and running shingling + PPJoin + connected
    * components over one REPRESENTATIVE per group (the group's min doc_id)
    * yields provably identical components, then one join expands labels
    * back to members. On a duplicate-heavy corpus this is the whole
    * ballgame: the SF30 rehearsal corpus (sf0.1 ×300, bit-identical
    * copies) has ~45 000 intra-group pairs per original document —
    * contraction collapses a ~224 M-edge graph to the ~5 000-node organic
    *  one and removes 299/300 of the shingling work. Measured: 1180 s →
    * see BASELINE.md round-18 section. Docs below the 3-token shingling
    * floor never pair (no shingles) and bypass contraction straight to
    * singleton labels — an md5 collision between a null and an empty text
    * can therefore never merge two true singletons. */
  val dedupCluster: QueryFn = (s, dir) =>
    dedupClusterFrame(s, t(s, dir, "documents"))

  private[graft] def dedupClusterFrame(
      s: SparkSession, d0: DataFrame): DataFrame =
    clusterByEdges(d0, dd => AllPairs
      .jaccardPairs(s, DedupQueries.shingled(dd), lenWindow = 20,
                    threshold = 0.8)
      .select(col("doc_a"), col("doc_b")))

  /** The clustering skeleton shared by [[dedupCluster]] (PPJoin exact-
    * Jaccard edges at t = 0.8) and [[minhashCluster]] (MinHash+LSH edges
    * at t = 0.2): adaptive exact-duplicate contraction
    * ([[DedupQueries.contractExact]] — batch frames only, it decides with
    * one eager corpus aggregate, and the component loop is action-driven
    * too), connected components over the (representative) near-dup
    * graph, label expansion ([[expandLabels]]) and the cluster columns
    * ([[clusterColumns]]). `pairsOf` maps a (doc_id, lang, text) frame to
    * its undirected (doc_a, doc_b) edge relation and must be a pure
    * content function (the contraction-invariance requirement of
    * contractExact — every dedup tier in this repo qualifies).
    *
    * On an organic corpus (the skip branch) components run over the
    * documents themselves and no member map is planned: sub-floor docs
    * never shingle, so they carry no edge and self-label through
    * connectedComponents' isolated-node path, and the corpus-sized node
    * frame is touched once, by that final anti-join (one doc_id-pruned
    * scan — FactScanSpec pins it). */
  private[graft] def clusterByEdges(
      d0: DataFrame, pairsOf: DataFrame => DataFrame): DataFrame = {
    val c = DedupQueries.contractExact(d0)
    val labels = connectedComponents(c.repIds, pairsOf(c.repDocs))
    clusterColumns(c.members.fold(labels)(expandLabels(labels, _, d0)))
  }

  /** Per-document labels from representative-level component labels:
    * each member of the (doc_id, rep) map takes its representative's
    * label (= the min doc_id of the whole component, since each group's
    * rep is its own min), and every document the map leaves out (below
    * the 3-token shingle floor or with null text: it can never pair)
    * labels itself, from ONE doc_id-pruned anti-join against `docs`.
    * Shared by the contracted inline sweep ([[clusterByEdges]]) and the
    * standing-artifact probe ([[MinhashIndex.clusterIndexed]]), whose
    * member map unions one map per batch. */
  private[graft] def expandLabels(repLabels: DataFrame, members: DataFrame,
                                  docs: DataFrame): DataFrame = {
    val memberLabels = members
      .join(repLabels.select(col("doc_id").as("rep"), col("label")),
            Seq("rep"))
      .select(col("doc_id"), col("label"))
    val rest = docs.select(col("doc_id"))
      .join(members.select(col("doc_id")), Seq("doc_id"), "left_anti")
      .select(col("doc_id"), col("doc_id").as("label"))
    memberLabels.union(rest)
  }

  /** The cluster columns of a (doc_id, label) frame: cluster size as a
    * window count — one exchange on the label key and a SINGLE reference
    * to the labels plan (a groupBy+join tail would reference it twice,
    * which on the skip branch would double the corpus scan). */
  private[graft] def clusterColumns(labels: DataFrame): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window.partitionBy(col("label"))
    labels.select(col("doc_id"), col("label").as("cluster_id"),
                  count(lit(1)).over(w).as("cluster_size"),
                  (col("doc_id") === col("label")).as("is_canonical"))
  }

  /** The GROUPED answer shape for duplication-heavy MinHash sweeps
    * (VERDICT r18 task 2): doc_id → (cluster over the t = 0.2 MinHash+LSH
    * near-dup graph, survivor flag). The pair listing
    * (`q_dedup_minhash_lsh`) is the diagnostic form — on a corpus with
    * duplication factor f it EMITS O(f²) member pairs because that is the
    * answer it promises (the factor-1000 rung measured 200 s of which
    * ~all was emitting ~2.5 G pairs nobody consumes pairwise). A dedup
    * pipeline consumes THIS form instead: the same candidate generation
    * and exact-Jaccard verification over exact-duplicate REPRESENTATIVES,
    * then connected components + one label-expansion join — wall scales
    * with organic content + component count, never with emitted-pair
    * count (the [[clusterByEdges]] skeleton, i.e. q_dedup_cluster's 26 s
    * at factor 1000, not 200 s).
    *
    * Same output columns as [[dedupCluster]]; the DuckDB oracle replays
    * the full MinHash construction and brute-forces reachability over its
    * pair relation, so a propagation or contraction bug hash-fails. */
  val minhashCluster: QueryFn = (s, dir) =>
    minhashClusterFrame(s, t(s, dir, "documents"))

  private[graft] def minhashClusterFrame(
      s: SparkSession, d0: DataFrame): DataFrame =
    clusterByEdges(d0, dd => DedupQueries.minhashPairsUncontracted(dd)
      .select(col("doc_a"), col("doc_b")))

  /** Recursive-CTE oracle over the exact MinHash pair relation: the full
    * [[DedupQueries.minhashLshSql]] construction (fnv shingles, fmix64
    * lanes, band collisions, exact Jaccard ≥ 0.2) nested as a derived
    * table, then the same reachability closure as [[dedupClusterSql]].
    * `mp` and `edges` are MATERIALIZED: otherwise DuckDB re-evaluates the
    * whole pair construction inside every step of the recursion. */
  val minhashClusterSql: String =
    s"""WITH RECURSIVE mp AS MATERIALIZED (
       |${DedupQueries.minhashLshSql}
       |),
       |edges AS MATERIALIZED (
       |  SELECT doc_a AS a, doc_b AS b FROM mp
       |  UNION ALL SELECT doc_b, doc_a FROM mp),
       |reach AS (
       |  SELECT doc_id AS id, doc_id AS r FROM documents
       |  UNION
       |  SELECT e.a AS id, reach.r AS r FROM edges e JOIN reach ON e.b = reach.id)
       |SELECT id AS doc_id, MIN(r) AS cluster_id,
       |  COUNT(*) OVER (PARTITION BY MIN(r)) AS cluster_size,
       |  (MIN(r) = id) AS is_canonical
       |FROM reach GROUP BY id ORDER BY doc_id""".stripMargin

  /** Min-label propagation to a fixpoint. `nodes` must have a `doc_id`
    * column; `edges` columns `doc_a`/`doc_b` (undirected, any orientation).
    * Each iteration does two shuffle-bounded steps, both keyed on node id:
    *
    *  1. neighbour step — every node takes the min of its own label and its
    *     neighbours' labels (one aggregate + one join);
    *  2. pointer jump — every node then adopts its LABEL's current label
    *     (one self-join on the label frame). Jumping composes the
    *     label-pointer function with itself, so the distance a label
    *     travels per round DOUBLES: convergence is O(log diameter), not
    *     O(diameter) — a 64-round cap genuinely covers any finite graph
    *     (2⁶⁴-node path), not just the near-clique components real
    *     near-dup graphs produce (those converge in 1–3 rounds).
    *
    * Convergence is checked with a scalar changed-count observed inside
    * each cut's own action (the Pregel pattern, fused — round 21 runs TWO
    * rounds per cut); lineage is truncated per cut via [[graft.Engine.materialize]]
    * (reliable checkpoint when a checkpoint dir is configured, local blocks
    * on a single JVM) so the plan does not grow with the iteration count. If the cap is ever hit without a
    * fixpoint the method THROWS rather than returning silently-partial
    * labels (a non-canonical cluster id would let near-dups survive
    * downstream dedup unnoticed). */
  private[graft] def connectedComponents(
      nodes: DataFrame, edges: DataFrame): DataFrame =
    connectedComponentsCounted(nodes, edges)._1

  /** [[connectedComponents]] plus the converged round count (spec surface —
    * CurationSpec pins the O(log diameter) bound on a planted chain). */
  private[graft] def connectedComponentsCounted(
      nodes: DataFrame, edges: DataFrame): (DataFrame, Int) = {
    val sym = edges
      .select(col("doc_a").as("src"), col("doc_b").as("dst"))
      .union(edges.select(col("doc_b").as("src"), col("doc_a").as("dst")))
      .transform(graft.Engine.materialize)
    // Iterate over edge-INCIDENT nodes only: a node with no near-dup pair
    // is its own component by definition and needs no rounds. On an
    // organic corpus near-dup pairs are sparse — the overwhelming majority
    // of documents are isolated, so without this the per-round label
    // shuffles are corpus-sized when the live frontier is a few percent.
    // Isolated nodes rejoin with label = self after convergence.
    val endpoints = sym.select(col("src").as("doc_id")).distinct()
      .transform(graft.Engine.materialize)
    // No cut of its own: a projection over the just-materialized endpoints
    // is already lineage-truncated (releaseMaterialized no-ops on it by the
    // strict LogicalRDD guard, leaving endpoints alive for the final
    // isolated-node anti-join).
    var labels = endpoints.select(col("doc_id"), col("doc_id").as("label"))
    // The materialized frame backing `labels` — releaseMaterialized must
    // see the LogicalRDD itself, not a projection over it.
    var labelsCut = labels
    var converged = false
    var iter = 0
    val MaxRounds = 64
    // One full round (neighbour min + pointer jump) as a PLAN over any
    // (doc_id, label) frame → (doc_id, label, changed). The self-join
    // references the stepped subtree twice, but both copies are identical
    // up to column renames, so their exchanges deduplicate (ReuseExchange /
    // AQE stage reuse) — round 20's one-cut-per-round shape, factored out
    // so round 21 can CHAIN two rounds under a single cut.
    def roundPlan(lbl: DataFrame): DataFrame = {
      val nbrMin = sym
        .join(lbl, sym("dst") === lbl("doc_id"))
        .groupBy(col("src"))
        .agg(min(col("label")).as("nbr_label"))
      val stepped = lbl
        .join(nbrMin, lbl("doc_id") === nbrMin("src"), "left")
        .select(lbl("doc_id"),
                least(col("label"),
                      coalesce(col("nbr_label"), col("label"))).as("label"),
                (coalesce(col("nbr_label"), col("label")) < col("label"))
                  .as("changed"))
      // Pointer jump: label := label(label). Labels are themselves node
      // ids, so the lookup is a self-join; a missing row (label already
      // canonical) keeps its value.
      val tbl = stepped.select(col("doc_id").as("l_id"), col("label").as("l_lbl"))
      stepped.as("st")
        .join(tbl, col("st.label") === tbl("l_id"), "left")
        .select(col("st.doc_id"),
                coalesce(col("l_lbl"), col("st.label")).as("label"),
                (col("st.changed") ||
                  coalesce(col("l_lbl"), col("st.label")) < col("st.label"))
                  .as("changed"))
    }
    while (!converged && iter < MaxRounds) {
      // TWO rounds per lineage cut (round 21, guide §5): round t+1's plan
      // chains directly on round t's, and ONE checkpoint materializes the
      // pair — halving both the blocking actions and the checkpoint writes
      // of the label frame (at 100 TB each cut is a full write of the
      // frame to stable storage). Round t's subtree is referenced three
      // ways inside round t+1 (neighbour join, stepped left side, jump
      // table), all identical, so its exchanges compute once via AQE stage
      // reuse — the same argument (and spec, CcRoundReuseSpec) as the
      // intra-round self-join.
      //
      // Convergence is counted DURING the materialize action: a
      // CollectMetrics (`observe`) node on the SECOND round sums its
      // changed flags while the checkpoint job computes the rows — the
      // pre-round-21 shape ran a separate `filter(changed).limit(1)
      // .isEmpty` probe job per round. Observing only round t+1 keeps the
      // metric unique in the plan; it converges one fused pair later than
      // a per-round probe at worst (a round-t fixpoint makes round t+1 the
      // identity, whose changed count is 0 — same decision, same labels,
      // and the reported round count can only ever grow by that one
      // identity round, which the doubling-bound pins tolerate).
      // The metric is read SYNCHRONOUSLY from the executed plan's own
      // accumulators (`queryExecution.observedMetrics`) right after the
      // checkpoint action — NOT through an `Observation` future: that
      // future completes on the QueryExecutionListener bus, and in a busy
      // session (the 175-query bench) the shared AsyncEventQueue lags by
      // hundreds of ms to seconds, which an Await would pay per cut
      // (measured: the cluster queries gained ~0.4 s each in full-suite
      // context with the listener read, and nothing in isolation).
      // Counting (not just any-changed) is recompute-safe: a cache-evicted
      // partition recomputed during the checkpoint write double-counts
      // nonzero rounds, but zero is zero under recompute, and only
      // zero-vs-nonzero feeds the convergence decision.
      val observed = roundPlan(roundPlan(labels).select(col("doc_id"), col("label")))
        .observe("cc_changed",
          sum(when(col("changed"), lit(1L)).otherwise(lit(0L)))
            .as("n_changed"))
      val jumped = graft.Engine.materialize(observed)
      converged = ccRoundChanged(observed) == 0L
      // Rounds N−1/N are safely on stable storage — drop the previous cut.
      // Without this, rounds × cuts checkpoint files accumulate for the
      // whole session (Engine.releaseMaterialized scaladoc).
      graft.Engine.releaseMaterialized(labelsCut)
      labelsCut = jumped
      labels = jumped.select(col("doc_id"), col("label"))
      iter += 2
    }
    graft.Engine.releaseMaterialized(sym)
    if (!converged)
      throw new IllegalStateException(
        s"connectedComponents did not converge in $MaxRounds rounds — " +
          "adversarial graph beyond the doubling bound?")
    // Isolated nodes (no incident edge) label themselves. `endpoints` stays
    // materialized (referenced by this anti-join), same as the returned
    // label frame itself — a few longs per edge-incident node.
    val isolated = nodes.select(col("doc_id"))
      .join(endpoints, Seq("doc_id"), "left_anti")
      .select(col("doc_id"), col("doc_id").as("label"))
    (labels.union(isolated), iter)
  }

  /** Changed-row count of one fused CC round pair, read straight from the
    * OBSERVED frame's executed plan after the materialize action: the
    * checkpoint runs the observed frame's own QueryExecution, whose
    * CollectMetricsExec accumulators are populated when the action
    * returns — `observedMetrics` is a synchronous accumulator read with
    * no listener-bus dependency (an `Observation` future would wait on
    * the shared event queue, seconds behind in a busy session). A missing
    * metric (e.g. a materialize that re-plans instead of executing the
    * observed frame's QueryExecution) fails loudly rather than paying a
    * silent extra probe job per round. */
  private[graft] def ccRoundChanged(observed: DataFrame): Long = {
    val row = observed.queryExecution.observedMetrics.getOrElse("cc_changed",
      throw new IllegalStateException(
        "connectedComponents: observed metric cc_changed missing after the " +
          "checkpoint action — convergence cannot be read"))
    if (row.isNullAt(row.fieldIndex("n_changed"))) 0L // sum over 0 rows
    else row.getAs[Number]("n_changed").longValue()
  }

  /** Transitive closure as a recursive CTE: DuckDB brute-forces reachability
    * from the same t=0.8 pair set, so a propagation bug that stops one round
    * early (labelling a chain's far end with the middle id) hash-fails. */
  val dedupClusterSql: String =
    """WITH RECURSIVE sh AS (
      |  SELECT doc_id, lang, len(toks) AS n_toks,
      |    list_distinct(list_transform(range(0, len(toks)-2),
      |      i -> toks[i+1] || ' ' || toks[i+2] || ' ' || toks[i+3])) AS shingles
      |  FROM (SELECT doc_id, lang,
      |          regexp_split_to_array(trim(text), '\s+') AS toks
      |        FROM documents)
      |  WHERE len(toks) >= 3),
      |p AS (
      |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
      |  FROM sh a JOIN sh b
      |    ON a.lang = b.lang AND a.doc_id < b.doc_id
      |   AND abs(a.n_toks - b.n_toks) <= 20
      |  WHERE ROUND(CAST(len(list_intersect(a.shingles, b.shingles)) AS DOUBLE) /
      |      (len(a.shingles) + len(b.shingles)
      |       - len(list_intersect(a.shingles, b.shingles))), 6) >= 0.8),
      |edges AS (
      |  SELECT doc_a AS a, doc_b AS b FROM p
      |  UNION ALL SELECT doc_b, doc_a FROM p),
      |reach AS (
      |  SELECT doc_id AS id, doc_id AS r FROM documents
      |  UNION
      |  SELECT e.a AS id, reach.r AS r FROM edges e JOIN reach ON e.b = reach.id)
      |SELECT id AS doc_id, MIN(r) AS cluster_id,
      |  COUNT(*) OVER (PARTITION BY MIN(r)) AS cluster_size,
      |  (MIN(r) = id) AS is_canonical
      |FROM reach GROUP BY id ORDER BY doc_id""".stripMargin

  // ----------------------------------------------------------- decontam

  /** Documents whose doc_id ≡ 0 (mod 97) stand in for the held-out eval
    * split; everything else is train. Deterministic, so both engines carve
    * the same split. */
  private val EvalMod = 97

  /** Word n-gram size. Production decontamination uses 8-13-gram windows
    * (the GPT-3/PaLM convention); the corpus's ~50-word vocabulary makes
    * 3-grams the signal-equivalent choice — large enough that overlap means
    * shared phrasing, small enough that contamination actually occurs in
    * the fixture data (~170 of 500 docs at sf0.01). */
  private val DecontamN = 3

  /** Distinct word n-grams — the shared builder ([[TextQueries.wordNgrams]],
    * which also carries the materialize-your-tokens-first caveat). */
  private def wordNgrams(toks: Column, n: Int): Column =
    TextQueries.wordNgrams(toks, n, distinct = true)

  /** Decontamination: per train document, how many of its distinct word
    * 3-grams appear anywhere in the eval split. The eval n-gram set is
    * DISTINCT-ed then broadcast — the train-side scan never shuffles its
    * exploded n-grams, only the final per-doc count aggregates. Output keeps
    * the raw counts plus the contamination rate (share of the doc's n-grams
    * that are eval-tainted — the threshold knob a pipeline drops docs by). */
  val decontam: QueryFn = (s, dir) => {
    val d = t(s, dir, "documents")
    // Per-doc gram count rides along with the exploded grams, so the final
    // aggregate needs no third corpus pass to fetch it. explode_OUTER, not
    // explode: plain explode triggers InferFiltersFromGenerate, whose
    // size(gs)>0 predicate is pushed below the projections with the whole
    // gram expression INLINED (3 re-evaluations per input row, each
    // re-splitting the text per element access — measured 15 of the 20 s
    // this query initially cost at sf0.1). The inner join on `g` drops the
    // empty-doc null rows explode_outer emits, so semantics are identical.
    val ng = d
      .select(col("doc_id"), tokens(col("text")).as("w"))
      .select(col("doc_id"), wordNgrams(col("w"), DecontamN).as("gs"))
      .select(col("doc_id"), size(col("gs")).as("n_grams"),
              explode_outer(col("gs")).as("g"))
    val eval_ = ng.filter(col("doc_id") % EvalMod === 0 && col("g").isNotNull)
      .select(col("g")).distinct()
    ng.filter(col("doc_id") % EvalMod =!= 0)
      .join(broadcast(eval_), "g")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_overlap"), max(col("n_grams")).as("n_grams"))
      .select(col("doc_id"), col("n_overlap"), col("n_grams"),
              (col("n_overlap").cast(DoubleType) / col("n_grams"))
                .as("contamination_rate"))
  }
  val decontamSql: String =
    """WITH toks AS (
      |  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS w
      |  FROM documents),
      |ng AS (
      |  SELECT doc_id, len(gs) AS n_grams, unnest(gs) AS g
      |  FROM (SELECT doc_id, list_distinct(list_transform(range(0, len(w)-2),
      |          i -> w[i+1] || ' ' || w[i+2] || ' ' || w[i+3])) AS gs
      |        FROM toks WHERE len(w) >= 3)),
      |ev AS (SELECT DISTINCT g FROM ng WHERE doc_id % 97 = 0)
      |SELECT t.doc_id, COUNT(*) AS n_overlap, MAX(t.n_grams) AS n_grams,
      |  CAST(COUNT(*) AS DOUBLE) / MAX(t.n_grams) AS contamination_rate
      |FROM ng t JOIN ev USING (g)
      |WHERE t.doc_id % 97 <> 0
      |GROUP BY t.doc_id ORDER BY t.doc_id""".stripMargin

  // ---------------------------------------------------------------- pii

  /** The corpus text is synthetic word-soup with no organic PII, so the
    * detector would run on all-zero matches — no regression signal. Instead
    * both engines append the SAME deterministically derived contact block to
    * a doc_id-keyed subset (the `mediaMeta` fake-dims pattern,
    * [[Multimodal]]): the regex scan, counting and redaction paths then run
    * against real match positions and the oracle hash pins every byte of
    * the redacted output. */
  private def piiAugmented: Column = concat(
    col("text"),
    when(col("doc_id") % 5 === 0,
      concat(lit(" contact user"), col("doc_id").cast("string"),
             lit("@example.com"))).otherwise(lit("")),
    when(col("doc_id") % 7 === 0,
      concat(lit(" from 10."), (col("doc_id") % 256).cast("string"),
             lit(".0.1"))).otherwise(lit("")),
    when(col("doc_id") % 11 === 0,
      concat(lit(" call 555-01"),
             lpad((col("doc_id") % 100).cast("string"), 2, "0")))
      .otherwise(lit("")))

  private val EmailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  private val Ipv4Re  = "\\b([0-9]{1,3}\\.){3}[0-9]{1,3}\\b"
  private val PhoneRe = "\\b555-[0-9]{4}\\b"

  /** PII detection + redaction: count emails / IPv4s / phone numbers per
    * document and emit the md5 of the fully redacted text (narrow output,
    * but a single mis-redacted byte anywhere flips the hash). Pure
    * projection — fuses into the scan, zero shuffle at any corpus size.
    * Regexes stay in the Java∩RE2 common dialect (character classes,
    * bounded repeats, \b) so Spark and DuckDB match identically. */
  val pii: QueryFn = (s, dir) => {
    val d = t(s, dir, "documents")
    val aug = piiAugmented
    val redacted = regexp_replace(
      regexp_replace(
        regexp_replace(aug, EmailRe, "<EMAIL>"),
        Ipv4Re, "<IP>"),
      PhoneRe, "<PHONE>")
    d.select(
      col("doc_id"),
      regexp_count(aug, lit(EmailRe)).cast("long").as("n_emails"),
      regexp_count(aug, lit(Ipv4Re)).cast("long").as("n_ips"),
      regexp_count(aug, lit(PhoneRe)).cast("long").as("n_phones"),
      md5(redacted.cast("binary")).as("redacted_md5"))
  }
  val piiSql: String =
    """WITH aug AS (
      |  SELECT doc_id, text
      |    || CASE WHEN doc_id % 5 = 0
      |         THEN ' contact user' || CAST(doc_id AS VARCHAR) || '@example.com'
      |         ELSE '' END
      |    || CASE WHEN doc_id % 7 = 0
      |         THEN ' from 10.' || CAST(doc_id % 256 AS VARCHAR) || '.0.1'
      |         ELSE '' END
      |    || CASE WHEN doc_id % 11 = 0
      |         THEN ' call 555-01' || lpad(CAST(doc_id % 100 AS VARCHAR), 2, '0')
      |         ELSE '' END AS t
      |  FROM documents)
      |SELECT doc_id,
      |  len(regexp_extract_all(t, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS n_emails,
      |  len(regexp_extract_all(t, '\b([0-9]{1,3}\.){3}[0-9]{1,3}\b')) AS n_ips,
      |  len(regexp_extract_all(t, '\b555-[0-9]{4}\b')) AS n_phones,
      |  md5(regexp_replace(regexp_replace(regexp_replace(t,
      |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
      |    '\b([0-9]{1,3}\.){3}[0-9]{1,3}\b', '<IP>', 'g'),
      |    '\b555-[0-9]{4}\b', '<PHONE>', 'g')) AS redacted_md5
      |FROM aug ORDER BY doc_id""".stripMargin

  // --------------------------------------------------------------- tfidf

  /** TF-IDF term weighting: tf = term count / doc length, idf = ln(N/df).
    * Two map-side-combined aggregates — (doc, term) counts then document
    * frequency — plus a one-row broadcast for the corpus size N (computed
    * in-plan, not with a driver action). Scores round to 6dp before compare
    * (natural-log ULP parity across engines is not guaranteed; the rounded
    * value is). */
  val tfidf: QueryFn = (s, dir) => {
    val d = t(s, dir, "documents")
    val toks = tokens(col("text"))
    // Per-doc counting INSIDE the row (graft.functions.TermCounts), then
    // explode the already-aggregated map: one output row per DISTINCT
    // (doc, term) instead of one Tungsten row per token occurrence pushed
    // through a partition-wide partial hash aggregate. Same rows, same
    // types as the explode→groupBy it replaces; the SF10-skew rehearsal
    // measured the old shape at 857 s (≈ all of q_text_tfidf), dominated
    // by that per-token aggregate probe. Two-step select so the token
    // split materializes once (the wordNgrams CollapseProject note).
    val tokd = d.select(col("doc_id"), toks.as("toks"))
    // Materialized: df aggregates OVER tf, and without a cut Catalyst
    // re-derives the whole (doc,term) frame — a second full corpus
    // pass — for the df branch. The checkpoint makes tf compute once;
    // everything downstream reads the (small) materialized frame.
    val tf = tokd.select(col("doc_id"), size(col("toks")).as("n_toks"),
        explode(graft.functions.TermCounts(col("toks"))))
      .select(col("doc_id"), col("key").as("term"), col("n_toks"),
              col("value").as("tf_count"))
      .transform(graft.Engine.materialize)
    val df = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
    val n = d.agg(count_distinct(col("doc_id")).as("n_docs"))
    tf.join(df, "term")
      .crossJoin(broadcast(n))
      .select(col("doc_id"), col("term"), col("tf_count"), col("df"),
        round((col("tf_count").cast(DoubleType) / col("n_toks")) *
                log(col("n_docs").cast(DoubleType) / col("df")), 6)
          .as("tfidf"))
  }
  val tfidfSql: String =
    """WITH tk AS (
      |  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS w
      |  FROM documents),
      |terms AS (SELECT doc_id, len(w) AS n_toks, unnest(w) AS term FROM tk),
      |tf AS (SELECT doc_id, term, MAX(n_toks) AS n_toks,
      |         COUNT(*) AS tf_count FROM terms GROUP BY 1, 2),
      |df AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY 1),
      |n AS (SELECT COUNT(DISTINCT doc_id) AS n_docs FROM documents)
      |SELECT tf.doc_id, tf.term, tf.tf_count, df.df,
      |  ROUND((CAST(tf_count AS DOUBLE) / n_toks)
      |        * ln(CAST(n_docs AS DOUBLE) / df), 6) AS tfidf
      |FROM tf JOIN df USING (term) CROSS JOIN n
      |ORDER BY doc_id, term""".stripMargin

  val all: Map[String, QueryFn] = Map(
    "q_dedup_cluster" -> dedupCluster,
    "q_dedup_minhash_cluster" -> minhashCluster,
    "q_decontam" -> decontam,
    "q_text_pii" -> pii,
    "q_text_tfidf" -> tfidf)

  val oracle: Map[String, String] = Map(
    "q_dedup_cluster" -> dedupClusterSql,
    "q_dedup_minhash_cluster" -> minhashClusterSql,
    "q_decontam" -> decontamSql,
    "q_text_pii" -> piiSql,
    "q_text_tfidf" -> tfidfSql)
}
