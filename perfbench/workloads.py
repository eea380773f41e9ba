"""Workload definitions and the seed -> inputs mapping.

A workload names its query set, corpus scale and kind (`queries`: one
client running registry queries in a closed loop; `ingest`: closed-loop
append steps). `make_plan` turns a workload and a seed into everything the
harness runs: the query order of every pass, and the ingest batch order
and sizes. The same seed always gives the same plan.
"""
import random

TPCH = ("q1_agg q2_minsupp q3_topn q4_semi q5_join_agg q6_filter q8_share "
        "q9_profit q10_agg_topn q11_value q12_priority q13_dist q14_promo "
        "q15_top q16_suppcnt q17_avg q18_large q19_disjunct q20_parts "
        "q21_waiting q22_anti").split()

# Per-row kernel carriers: text and vector kernels on the data path.
KERNELS = "q_text_quality q_text_langid q_text_repetition q_ann_int8".split()

WORKLOADS = {
    "olap-sf0.1": {
        "kind": "queries", "sf": 0.1,
        "queries": TPCH + KERNELS, "warmup": "q6_filter",
    },
    "ingest-sf0.01": {"kind": "ingest", "sf": 0.01},
}

PASSES = 64          # distinct seeded pass orders; windows cycle through them
STEPS = 256          # distinct seeded ingest steps
BATCH_COPIES = (1, 2, 3)  # every cycle of three steps appends each size once
YEARS = list(range(1995, 2002))


def query_passes(queries, rng, n=PASSES):
    """n passes; each is a fresh permutation of the query set, so every
    pass runs every query once."""
    return [rng.sample(queries, len(queries)) for _ in range(n)]


def ingest_steps(rng, n=STEPS):
    """n append steps. Batch sizes (copies of the base documents and
    embeddings) cycle through a fixed multiset in seeded order; copy ids
    are fresh per step, so keys stay disjoint. Each step also overwrites
    two seeded shipyear partitions of the SQL table with a seeded slice."""
    steps, next_copy, sizes = [], 1, []
    for _ in range(n):
        if not sizes:
            sizes = rng.sample(BATCH_COPIES, len(BATCH_COPIES))
        k = sizes.pop()
        steps.append({
            "copies": list(range(next_copy, next_copy + k)),
            "years": sorted(rng.sample(YEARS, 2)),
            "mod": 4, "rem": rng.randrange(4),
        })
        next_copy += k
    return steps


def make_plan(workload, seed, seconds, trace, cores):
    w = WORKLOADS[workload]
    rng = random.Random(f"{workload}/{seed}")
    plan = {
        "workload": workload, "kind": w["kind"], "seed": seed,
        "master": f"local[{cores}]", "cores": cores, "seconds": seconds,
        "trace": bool(trace), "setup_reps": 3, "op_timeout_s": 60,
    }
    if w["kind"] == "queries":
        plan.update({
            "warmup": w["warmup"], "verify": sorted(w["queries"]),
            "verify_clients": cores,
            "passes": query_passes(w["queries"], rng),
        })
    else:
        plan.update({
            "verify": [],
            # three steps give the end-to-end tail 27 samples; a traced run
            # makes three windows, so it takes two steps each
            "ingest": {"steps": ingest_steps(rng), "min_steps": 2 if trace else 3,
                       "max_live": 2, "nlist": 16, "k": 5, "nprobe": 4, "queries": 8},
        })
    return plan
