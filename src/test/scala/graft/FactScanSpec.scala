package graft

import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}

/** Pins fact-table scan multiplicity for the headline workloads.
  *
  * The 100 TB failure mode this guards: a decorrelation or self-join that
  * reads the fact table more than once. Catalyst does NOT reliably reuse
  * the duplicate subtree (measured: zero ReusedExchange across q2/q11/q17/
  * qds59 before their round-10 rewrites), so each extra logical scan is a
  * full extra pass over the biggest table in the system. The one-pass forms
  * live in the query files (window-over-join for q2/q17, lag-over-aggregate
  * for qds59, per-order aggregate for q21); this spec fails if a future
  * edit quietly reintroduces a second pass.
  *
  * q11 and q15 are the documented exceptions (lineitem = 2): both compare a
  * per-key aggregate against a global aggregate OF that same aggregate
  * (0.1% threshold / max), and Spark has no plan-level materialization
  * short of persist(), so the global side re-derives the grouped agg. The
  * second pass is column-pruned and its network cost is one row; the
  * one-scan alternatives all serialize every group through a single task
  * (window over an empty partition) — worse at scale than the extra pruned
  * read. See q11Value's scaladoc. (This budget was set by THIS spec's
  * subquery-aware counter: q15's scalar-max subquery was invisible to a
  * plain plan traversal.)
  *
  * Budget-2 re-audit at SF10 (round 11, BENCH_SF10.json — 100× the
  * shipped sf0.1 corpus, 60 M-row lineitem): q11_value 1.59 → 4.01 s and
  * q15_top 1.50 → 3.00 s going SF1 → SF10, i.e. 2.5× and 2.0× wall for
  * 10× data — far below linear, among the LOWEST ratios in the TPC-H 21.
  * The pruned second pass is measurably immaterial as data grows (it
  * scans 2 columns and ships one row); the budget stands, and the
  * broadcast-scalar alternative stays unimplemented on purpose.
  */
class FactScanSpec extends SparkSpec {

  private val tpch = Seq("q1_agg", "q2_minsupp", "q3_topn", "q4_semi",
    "q5_join_agg", "q6_filter", "q8_share", "q9_profit", "q10_agg_topn",
    "q11_value", "q12_priority", "q13_dist", "q14_promo", "q15_top",
    "q16_suppcnt", "q17_avg", "q18_large", "q19_disjunct", "q20_parts",
    "q21_waiting", "q22_anti")

  private def factScans(name: String): Map[String, Int] = {
    val plan = SparkEntry.queries(name)(spark, sfDir).queryExecution.optimizedPlan
    var m = Map.empty[String, Int].withDefaultValue(0)
    // subqueriesAll: a reintroduced pass hidden in a scalar/EXISTS subquery
    // expression (which plan.foreach does NOT descend into) must count too.
    (plan +: plan.subqueriesAll).foreach(_.foreach {
      case LogicalRelation(fs: HadoopFsRelation, _, _, _, _) =>
        fs.location.rootPaths.foreach { p =>
          val t = p.getName.stripSuffix(".parquet")
          m = m.updated(t, m(t) + 1)
        }
      case _ => ()
    })
    m
  }

  test("TPC-H and TPC-DS headliners scan each fact table exactly once (q11 excepted)") {
    val tpcds = SparkEntry.queries.keys.filter(_.startsWith("qds")).toSeq.sorted
    val offenders = (tpch ++ tpcds).flatMap { q =>
      val m = factScans(q)
      val budget = if (q == "q11_value" || q == "q15_top") 2 else 1
      Seq("lineitem", "orders").collect {
        case f if m(f) > budget => s"$q scans $f ${m(f)}x (budget $budget)"
      }
    }
    assert(offenders.isEmpty,
      "fact-table multi-scan regression:\n  " + offenders.mkString("\n  "))
  }

  test("pipeline dedup/ANN double references are the two-sided kind, not unbounded") {
    // Dedup join-backs and ANN query-vs-corpus joins legitimately reference
    // their table twice (candidate pairs join back to the original rows);
    // the n-gram tiers and minhash reference documents 4x (2 sides x
    // (signatures + shingle-set join-back)). minhash moved 2 -> 4 in round
    // 17 ON PURPOSE: the 2-scan form carried the full shingle array through
    // the band self-join's exchange, whose estimate-blind width OOM'd the
    // SF30 cluster driver (see DedupQueries.minhashPairs scaladoc) — two
    // extra column-pruned scans buy narrow exchanges and no corpus
    // broadcasts. Pin the counts so a rewrite that starts re-scanning per
    // candidate (or loses the single-derivation) shows up.
    val expected = Map(
      "q_dedup_exact" -> ("documents", 1),
      "q_dedup_minhash_lsh" -> ("documents", 4),
      // The standing-signature probe is the designed endpoint of that
      // trade: after the one-time build, a sweep reads the corpus text
      // ZERO times (all four reads hit the narrow artifact instead —
      // MinhashIndexSpec pins those and their column pruning).
      "q_dedup_minhash_indexed" -> ("documents", 0),
      // The two-append (incremental) artifact probe keeps the same
      // zero-corpus-scan property — the union of batch partitions is
      // still only artifact reads.
      "q_dedup_minhash_delta" -> ("documents", 0),
      "q_dedup_simhash" -> ("documents", 2),
      "q_dedup_ngram_jaccard" -> ("documents", 4),
      "q_dedup_ngram_jaccard_hi" -> ("documents", 4),
      "q_ann_brute" -> ("embeddings", 2),
      "q_ann_lsh" -> ("embeddings", 2),
      "q_ann_ivf" -> ("embeddings", 2),
      // Curation tier: decontam reads the corpus once per split side (the
      // per-doc gram count rides with the exploded grams — a third pass
      // would be a regression); pii is a pure projection; tfidf's tf/df/
      // join branches all read the CHECKPOINTED (doc,term) aggregate
      // (derivation scan lineage-truncated), leaving only the pruned
      // one-row corpus-count scan visible.
      "q_decontam" -> ("documents", 2),
      "q_text_pii" -> ("documents", 1),
      "q_text_tfidf" -> ("documents", 1),
      // All of dedupCluster's corpus scans happen eagerly inside the
      // label-propagation loop and are then lineage-truncated. The gate
      // corpus is ORGANIC, so the adaptive contraction takes the SKIP
      // branch (no member map planned at all — see contractExact's
      // decision note): the final plan joins the materialized component
      // labels against ONE doc_id-pruned corpus scan (the sub-floor
      // self-label left join). 1 pins both properties at once: 0 would
      // mean the skip branch regressed into materializing a
      // corpus-cardinality map it doesn't need, >1 that the window-count
      // tail lost its single-reference shape or the loop lineage is being
      // replayed per downstream action. (On duplicate-heavy corpora the
      // contract branch plans 1 too, a different one: members take their
      // representative's label through contractExact's materialized
      // member map, and the docs that map leaves out self-label from the
      // same doc_id-pruned anti-join q_dedup_minhash_cluster_indexed
      // runs; CurationSpec covers that branch.)
      "q_dedup_cluster" -> ("documents", 1),
      // Grouped probe from the standing artifact: components run eagerly
      // over the artifact's rep graph (zero corpus-text reads); the single
      // pinned scan is the doc_id-pruned anti-join that self-labels
      // sub-shingle-floor docs the artifact rightly excludes.
      "q_dedup_minhash_cluster_indexed" -> ("documents", 1),
      // Same clusterByEdges skeleton as q_dedup_cluster (organic gate
      // corpus -> skip branch), so the same single pruned corpus scan in
      // the final plan: the MinHash edge derivation runs eagerly inside
      // the component loop and is lineage-truncated.
      "q_dedup_minhash_cluster" -> ("documents", 1))
    val bad = expected.toSeq.sortBy(_._1).flatMap { case (q, (tbl, n)) =>
      val got = factScans(q)(tbl)
      if (got != n) Some(s"$q scans $tbl ${got}x (pinned $n)") else None
    }
    assert(bad.isEmpty, "pipeline scan-count drift:\n  " + bad.mkString("\n  "))
  }
}
