"""Output checks for one run.

- Registry queries: the engine's result (written by the harness's untimed
  verification pass) is normalised, sorted and hashed, and the hash is
  compared with the same for the query's DuckDB oracle SQL over the same
  parquet corpus. Columns compare by name; floats compare exactly.
- Estimate-valued queries without an oracle are held to the bounds of
  TOLERANCE.json.
- Ingest probes are compared with an inline recomputation: after each
  window the harness checks near-dup pairs and ANN self-hits in the
  engine; each step's aggregate over the written table is recomputed here
  from the corpus.

Every mismatch is one failed check.
"""
import hashlib
import json
import math
import os

TABLES = ("region nation customer supplier part orders lineitem events "
          "documents embeddings").split()

TOLERANCE_FILE = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                              "TOLERANCE.json")


def connect(corpus):
    import duckdb
    con = duckdb.connect()
    con.execute(f"SET threads TO {len(os.sched_getaffinity(0))}")
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{os.path.join(corpus, t + '.parquet')}')")
    return con


def norm(v):
    """Type-tagged value: ints and floats never compare equal across
    types, NaN compares equal to NaN, nested values compare elementwise."""
    if v is None:
        return (0, "")
    if isinstance(v, bool):
        return (1, str(v))
    if isinstance(v, float):
        return (2, "nan" if math.isnan(v) else repr(v))
    if isinstance(v, int):
        return (3, str(v))
    if isinstance(v, (list, tuple)):
        return (4, repr([norm(x) for x in v]))
    return (5, str(v))


def result_hash(cols, rows):
    """Hash of a result: columns ordered by name, rows normalised and
    sorted."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    h = hashlib.sha256(repr([cols[i] for i in order]).encode())
    for r in sorted(tuple(norm(r[i]) for i in order) for r in rows):
        h.update(repr(r).encode())
    return h.hexdigest()


def read_spark(path):
    import pyarrow.parquet as pq
    tbl = pq.read_table(path)
    cols = tbl.column_names
    return cols, [tuple(r[c] for c in cols) for r in tbl.to_pylist()]


def tolerance_check(name, cols, rows, bounds):
    """(ok, detail) for an estimate-valued query held to the TOLERANCE.json
    bounds (`bounds`: key -> bound); None if the query has none."""
    def max_rel(est, exact):
        i, j = cols.index(est), cols.index(exact)
        return max(abs(r[i] - r[j]) / max(r[j], 1) for r in rows)
    errors = {
        "q_agg_ndv": lambda: {"q_agg_ndv:ndv_rel_err": max_rel("ndv_part", "exact_part")},
        "q_distinctpc": lambda: {
            "q_distinctpc[pc]:distinctpc_rel_err": max_rel("pc", "exact"),
            "q_distinctpc[pcsa]:distinctpc_rel_err": max_rel("pcsa", "exact"),
            "q_distinctpc[ndv]:ndv_rel_err": max_rel("ndv_est", "exact")},
    }
    if name not in errors:
        return None
    errs = errors[name]()
    ok = all(k in bounds and e <= bounds[k] for k, e in errs.items())
    return ok, ", ".join(f"{k}={e:.4f} (bound {bounds.get(k)})" for k, e in errs.items())


def oracle_hashes(names, oracle_sql, corpus, cache_dir, corpus_id):
    """DuckDB result hash of each named query's oracle SQL. The corpus is a
    pure function of `corpus_id`, so hashes are cached per (corpus, SQL)
    under `cache_dir` and DuckDB only runs for new ones."""
    os.makedirs(cache_dir, exist_ok=True)
    out, con = {}, None
    for name in names:
        key = hashlib.sha256(f"{corpus_id}\n{oracle_sql[name]}".encode()).hexdigest()
        path = os.path.join(cache_dir, key)
        if os.path.exists(path):
            with open(path) as f:
                out[name] = f.read().strip()
            continue
        if con is None:
            con = connect(corpus)
        try:
            res = con.execute(oracle_sql[name])
            out[name] = result_hash([d[0] for d in res.description], res.fetchall())
        except Exception as e:  # noqa: BLE001 -- any oracle failure fails the check
            out[name] = f"oracle error: {e}"
            continue
        with open(path, "w") as f:
            f.write(out[name] + "\n")
    if con is not None:
        con.close()
    return out


def check_queries(verify, oracle_sql, corpus, cache_dir, corpus_id):
    """One check per verified query: [(name, ok, detail)]."""
    want = oracle_hashes([v["name"] for v in verify if v["name"] in oracle_sql],
                         oracle_sql, corpus, cache_dir, corpus_id)
    with open(TOLERANCE_FILE) as f:
        bounds = {k: v["bound"] for k, v in json.load(f).items()}
    out = []
    for v in sorted(verify, key=lambda v: v["name"]):
        name = v["name"]
        if not v["ok"]:
            out.append((name, False, f"engine error: {v['error']}"))
            continue
        cols, rows = read_spark(v["path"])
        if name in oracle_sql:
            ok = result_hash(cols, rows) == want[name]
            out.append((name, ok, "" if ok else
                        f"{len(rows)} rows; oracle {want[name][:200]}"))
            continue
        tol = tolerance_check(name, cols, rows, bounds)
        if tol is not None:
            out.append((name, tol[0], tol[1]))
        else:
            out.append((name, False, "no oracle and no tolerance bound"))
    return out


def expected_aggregates(corpus, steps):
    """Replays the SQL writes of the executed ingest steps: the set-up
    table holds every shipyear's `l_orderkey % 4 = 0` rows, and each step
    overwrites its years with its slice. Returns, per step, the expected
    `(l_shipyear, n, qty, lo, hi)` rows and the rows the step inserted."""
    con = connect(corpus)
    def agg(where):
        return {r[0]: r for r in con.execute(
            "SELECT CAST(year(l_shipdate) AS INTEGER) y, count(*), "
            "sum(l_quantity), min(l_orderkey), max(l_orderkey) FROM lineitem "
            f"WHERE {where} GROUP BY y").fetchall()}
    state = agg("l_orderkey % 4 = 0")
    out = []
    for s in steps:
        years = ", ".join(str(y) for y in s["years"])
        new = agg(f"year(l_shipdate) IN ({years}) AND "
                  f"l_orderkey % {s['mod']} = {s['rem']}")
        state.update(new)
        out.append(([list(state[y]) for y in sorted(state)],
                    sum(r[1] for r in new.values())))
    con.close()
    return out


def check_ingest(records, corpus):
    """One check per step (the aggregate) and two per window (near-dup
    pairs, ANN self-hits). Returns (checks, inserted rows per step)."""
    steps = [r for r in records if "step" in r]
    key = lambda r: [int(r[0]), int(r[1]), float(r[2]), int(r[3]), int(r[4])]
    out, inserted = [], []
    for s, (want, n_ins) in zip(steps, expected_aggregates(corpus, steps)):
        got = sorted(key(r) for r in s["check"]["agg"])
        ok = got == [key(r) for r in want]
        out.append((f"step{s['step']}.agg", ok,
                    s["check"]["error"] or ("" if ok else f"got {got[:2]} want {want[:2]}")))
        inserted.append(n_ins)
    for r in records:
        if "window_check" in r:
            for kind in ("dedup", "ann"):
                err = r["window_check"][f"{kind}_error"]
                out.append((f"{r['window']}.{kind}", err is None, err or ""))
    return out, inserted
