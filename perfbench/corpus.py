"""Deterministic synthetic corpus in the engine's table layout.

Ten parquet tables (TPC-H-style star schema, an `events` stream, a
`documents` text table and an `embeddings` vector table), generated to
the shape of the seed-42 corpus the repository's tests and tools are
measured on (TESTDATA.md), which is not part of the repository. Row
counts per scale factor, schemas, key ranges, value domains and marginal
distributions match it (perfbench/README.md compares them at sf0.01 and
sf0.1): uniform keys, 1995-2001 order dates, January-2024 events with
exponential values, documents of 10-100 words over a 31-word vocabulary
(40% `en`, one exact duplicate per 600), unit-norm 64-d embeddings. The
rows themselves differ: this is a stand-in drawn from the same
distributions, not a copy.

Usage: python3 perfbench/corpus.py <outDir> <sf> [seed]
"""
import hashlib
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

WORDS = ("a agg batch big column customer data dup fast filter group hash join "
         "key line merge order part query row scan slow small sort spark "
         "stream table the value vector window").split()
ADJ = "hot old red small new large cold blue".split()
NOUN = "bolt plate gear ring rod anvil widget gizmo".split()
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PTYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.4, 0.15, 0.15, 0.15, 0.15]


def sizes(sf):
    n = lambda base, floor: max(floor, int(round(base * sf)))
    return {
        "customer": n(150_000, 150), "supplier": n(10_000, 10),
        "part": n(200_000, 200), "orders": n(1_500_000, 1500),
        "lineitem": n(6_000_000, 6000), "events": n(1_000_000, 1000),
        "documents": n(50_000, 500), "embeddings": n(20_000, 500),
    }


def _days(rng, n, start, span):
    base = np.datetime64(start, "us")
    return base + rng.integers(0, span, n).astype("timedelta64[D]").astype("timedelta64[us]")


def _money(rng, n, lo, hi):
    return np.round(rng.uniform(lo, hi, n), 2)


def _pick(rng, values, n):
    return pa.array(np.asarray(values, dtype=object)[rng.integers(0, len(values), n)],
                    pa.string())


def _names(prefix, n):
    return pa.array([f"{prefix}#{i:09d}" for i in range(n)], pa.string())


def tables(sf, seed=42):
    rng = np.random.default_rng(seed)
    z = sizes(sf)
    t = {}
    t["region"] = pa.table({"r_regionkey": pa.array(range(5), pa.int32()),
                            "r_name": pa.array(REGIONS)})
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    nc = z["customer"]
    t["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(nc, dtype=np.int64)),
        "c_name": _names("Customer", nc),
        "c_nationkey": pa.array(rng.integers(0, 25, nc).astype(np.int32)),
        "c_acctbal": pa.array(_money(rng, nc, -999.99, 9999.99)),
        "c_mktsegment": _pick(rng, SEGMENTS, nc)})
    ns = z["supplier"]
    t["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(ns, dtype=np.int64)),
        "s_name": _names("Supplier", ns),
        "s_nationkey": pa.array(rng.integers(0, 25, ns).astype(np.int32)),
        "s_acctbal": pa.array(_money(rng, ns, -999.99, 9999.99))})
    npart = z["part"]
    pnames = [f"{a} {b}" for a in ADJ for b in NOUN]
    t["part"] = pa.table({
        "p_partkey": pa.array(np.arange(npart, dtype=np.int64)),
        "p_name": _pick(rng, pnames, npart),
        "p_brand": _pick(rng, [f"Brand#{i}" for i in range(1, 26)], npart),
        "p_type": _pick(rng, PTYPES, npart),
        "p_size": pa.array(rng.integers(1, 51, npart).astype(np.int32)),
        "p_retailprice": pa.array(900.0 + (np.arange(npart) % 1000) / 10.0)})
    no = z["orders"]
    t["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(no, dtype=np.int64)),
        "o_custkey": pa.array(rng.integers(0, nc, no).astype(np.int64)),
        "o_orderstatus": _pick(rng, ["F", "O", "P"], no),
        "o_totalprice": pa.array(_money(rng, no, 1000.0, 500000.0)),
        "o_orderdate": pa.array(_days(rng, no, "1995-01-01", 2405)),
        "o_orderpriority": _pick(rng, PRIORITIES, no)})
    nl = z["lineitem"]
    t["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, no, nl).astype(np.int64)),
        "l_partkey": pa.array(rng.integers(0, npart, nl).astype(np.int64)),
        "l_suppkey": pa.array(rng.integers(0, ns, nl).astype(np.int64)),
        "l_linenumber": pa.array(rng.integers(1, 8, nl).astype(np.int32)),
        "l_quantity": pa.array(rng.integers(1, 51, nl).astype(np.float64)),
        "l_extendedprice": pa.array(_money(rng, nl, 900.0, 105000.0)),
        "l_discount": pa.array(rng.integers(0, 11, nl) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, nl) / 100.0),
        "l_returnflag": _pick(rng, ["A", "N", "R"], nl),
        "l_linestatus": _pick(rng, ["F", "O"], nl),
        "l_shipdate": pa.array(_days(rng, nl, "1995-01-02", 2499))})
    ne = z["events"]
    users = max(10, nc // 10)
    micros = np.sort(rng.integers(0, 30 * 86_400_000_000, ne))
    t["events"] = pa.table({
        "event_id": pa.array(np.arange(ne, dtype=np.int64)),
        "ts": pa.array(np.datetime64("2024-01-01", "us") + micros.astype("timedelta64[us]")),
        "user_id": pa.array(rng.integers(0, users, ne).astype(np.int64)),
        "event_type": _pick(rng, EVENT_TYPES, ne),
        "value": pa.array(np.round(rng.exponential(50.0, ne), 2)),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, ne)])})
    nd = z["documents"]
    lens = rng.integers(10, 101, nd)
    words = np.asarray(WORDS, dtype=object)
    texts = [" ".join(words[rng.integers(0, len(WORDS), k)]) for k in lens]
    for i in rng.choice(nd, nd // 600, replace=False):
        texts[i] = texts[(i + 1) % nd]  # a few exact duplicates
    t["documents"] = pa.table({
        "doc_id": pa.array(np.arange(nd, dtype=np.int64)),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array(rng.choice(LANGS, nd, p=LANG_P).astype(object), pa.string()),
        "source": pa.array([f"src{i % 20}" for i in range(nd)]),
        "n_chars": pa.array(np.array([len(s) for s in texts], dtype=np.int64))})
    nv = z["embeddings"]
    v = rng.standard_normal((nv, 64)).astype(np.float32)
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    t["embeddings"] = pa.table({
        "vec_id": pa.array(np.arange(nv, dtype=np.int64)),
        "embedding": pa.array(list(v), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, nv).astype(np.int32))})
    return t


def identity(sf, seed=42):
    """Names the corpus `write(_, sf, seed)` produces: this generator's
    source, the library versions it draws with, and its arguments."""
    with open(__file__, "rb") as f:
        src = f.read()
    args = f"\n{np.__version__}/{pa.__version__}/{sf}/{seed}"
    return hashlib.sha256(src + args.encode()).hexdigest()


def rows(out_dir, name):
    """Row count of one written table."""
    return pq.ParquetFile(os.path.join(out_dir, f"{name}.parquet")).metadata.num_rows


def write(out_dir, sf, seed=42):
    os.makedirs(out_dir, exist_ok=True)
    for name, table in tables(sf, seed).items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
    return out_dir


if __name__ == "__main__":
    write(sys.argv[1], float(sys.argv[2]), int(sys.argv[3]) if len(sys.argv) > 3 else 42)
