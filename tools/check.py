#!/usr/bin/env python3
"""Local mirror of the driver's correctness gate (NOT part of the library).

Runs graft.Verify at a given SF dir, then replays every oracle_sql.json entry
in DuckDB over the same parquet tables and compares: columns sorted by name,
rows sorted, values compared exactly (floats bit-compared, with a reported
max-abs-diff fallback so near-misses are visible).

Usage: python3 tools/check.py [sfDir] [outDir] [--skip-run] [--only q1,q2]
                              [--json[=PATH]]

Each distinct oracle SQL text is replayed once per run and its rows are
reused for every entry that shares it (the q_dedup_minhash_* pair and
cluster entries share two texts, and those replays dominate the gate).
Progress lines are flushed as they are printed, also into a redirected log.

--json writes a per-query verdict file in the driver's CORRECTNESS_r{N}
format (default PATH: CORRECTNESS_LOCAL.json in the repo root, full-registry
runs only) so the round's hard correctness signal is committed with the code
and never depends on a single driver-side artifact (VERDICT r19 task 3).
"""
import collections
import json
import math
import os
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def run_verify(sf_dir, out_dir):
    cmd = ["java"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += [
        "-Xmx8g", "-Dspark.ui.enabled=false",
        "-Dspark.sql.session.timeZone=UTC",
        "-cp", f"{REPO}/target/scala-2.13/classes:/opt/spark/jars/*",
        "graft.Verify", sf_dir, out_dir,
    ]
    env = dict(os.environ, SPARK_GRAFT_CPUS="8")
    r = subprocess.run(cmd, env=env, capture_output=True, text=True)
    for line in r.stderr.splitlines():
        if "[verify]" in line or "Exception" in line:
            print("  !!", line)
    if r.returncode != 0:
        print(r.stderr[-3000:])
        sys.exit(1)


def norm(v):
    # Mirror the driver's EXACT hash compare: ints stay ints (int64 above
    # 2^53 must not collapse lossily), floats stay floats, and an int on one
    # side vs a float on the other is a TYPE mismatch — the driver hashes the
    # two representations differently even when numerically equal.
    if v is None:
        return (0, None)
    if isinstance(v, bool):
        return (1, v)
    if isinstance(v, float):
        if math.isnan(v):
            return (1, "nan")
        return (1, v)
    if isinstance(v, int):
        return (2, v)
    return (1, str(v))


def compare(name, spark_rows, spark_cols, duck_rows, duck_cols):
    if sorted(spark_cols) != sorted(duck_cols):
        return f"SCHEMA cols spark={sorted(spark_cols)} duck={sorted(duck_cols)}"
    order = sorted(range(len(spark_cols)), key=lambda i: spark_cols[i])
    dorder = sorted(range(len(duck_cols)), key=lambda i: duck_cols[i])
    s = sorted(tuple(norm(r[i]) for i in order) for r in spark_rows)
    d = sorted(tuple(norm(r[i]) for i in dorder) for r in duck_rows)
    if len(s) != len(d):
        return f"ROWS spark={len(s)} duck={len(d)}"
    worst = 0.0
    for sr, dr in zip(s, d):
        for sv, dv in zip(sr, dr):
            if sv == dv:
                continue
            if isinstance(sv[1], float) and isinstance(dv[1], float):
                diff = abs(sv[1] - dv[1])
                rel = diff / max(abs(sv[1]), abs(dv[1]), 1e-300)
                worst = max(worst, rel)
                if rel > 1e-12:
                    return f"VALUE {sv} != {dv} (rel={rel:.2e})"
            elif isinstance(sv[1], (int, float)) and isinstance(dv[1], (int, float)) \
                    and not isinstance(sv[1], bool) and not isinstance(dv[1], bool) \
                    and sv[1] == dv[1]:
                return (f"TYPE {type(sv[1]).__name__} vs {type(dv[1]).__name__} "
                        f"for equal value {sv[1]} (driver hash would FAIL)")
            else:
                return f"VALUE {sv} != {dv}"
    if worst > 0:
        return f"FLOAT-ULP worst rel diff {worst:.2e} (driver hash would FAIL)"
    return None


def replay(con, sql):
    """(columns, rows) of one oracle SQL text in DuckDB, or its exception."""
    try:
        res = con.execute(sql)
        return [d[0] for d in res.description], res.fetchall()
    except Exception as e:
        return e


def main():
    sys.stdout.reconfigure(line_buffering=True)
    import duckdb
    import pyarrow.parquet as pq
    args = [a for a in sys.argv[1:] if not a.startswith("--")]
    sf_dir = args[0] if args else "/root/testdata/sf0.01"
    out_dir = args[1] if len(args) > 1 else "/tmp/graft_verify"
    only = None
    json_path = None
    for a in sys.argv[1:]:
        if a.startswith("--only"):
            only = set(a.split("=", 1)[1].split(","))
        elif a == "--json":
            json_path = os.path.join(REPO, "CORRECTNESS_LOCAL.json")
        elif a.startswith("--json="):
            json_path = a.split("=", 1)[1]
    if "--skip-run" not in sys.argv:
        print(f"[check] running graft.Verify {sf_dir} -> {out_dir}")
        run_verify(sf_dir, out_dir)
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')")
    oracle = json.load(open(f"{out_dir}/oracle_sql.json"))
    n_ok = n_bad = n_noracle = 0
    verdicts = {}
    # A query that dies inside graft.Verify leaves NO output dir — without
    # this check it would silently vanish from the report (bitten once: a
    # testdata regeneration broke one query's analysis and the gate still
    # printed fail=0). queries.txt is the FULL registry (covers rows-only
    # queries too); fall back to the oracle keys for older outDirs.
    manifest_path = os.path.join(out_dir, "queries.txt")
    if os.path.exists(manifest_path):
        registered = [l.strip() for l in open(manifest_path) if l.strip()]
    else:
        registered = sorted(oracle)
    for name in registered:
        if (only is None or name in only) and \
                not os.path.isdir(os.path.join(out_dir, name)):
            n_bad += 1
            verdicts[name] = {"rows_match": False, "schema_match": False,
                              "hash_match": False, "spark_rows": 0,
                              "oracle_rows": None, "err": "no_verify_output"}
            print(f"  [FAIL] {name}: no Verify output (query errored — see run log)")
    found = [name for name in sorted(os.listdir(out_dir))
             if os.path.isdir(os.path.join(out_dir, name))]
    # SMOKE ASSERTION (VERDICT r19 task 7): an empty or partial dump dir
    # must read as a loud failure, never as a quietly-green zero-query gate
    # (the driver's r19 CORRECTNESS artifact was literally `{}`).
    if only is None:
        if not registered:
            n_bad += 1
            print("[check] FATAL: empty query registry — refusing to "
                  "report a zero-query gate as green")
        elif set(found) != set(registered):
            n_bad += 1
            missing = sorted(set(registered) - set(found))[:5]
            extra = sorted(set(found) - set(registered))[:5]
            print(f"[check] FATAL: dump dir has {len(found)} query outputs "
                  f"but the registry lists {len(registered)} "
                  f"(missing≈{missing} extra≈{extra})")
    # Each distinct oracle text is replayed once; its result is kept until
    # the last entry that shares it has been compared.
    uses = collections.Counter(oracle[n] for n in found
                               if n in oracle and (not only or n in only))
    replays = {}
    for name in found:
        path = os.path.join(out_dir, name)
        if only and name not in only:
            continue
        tbl = pq.read_table(path)
        spark_cols = tbl.column_names
        spark_rows = [tuple(r[c] for c in spark_cols) for r in tbl.to_pylist()]
        if name not in oracle:
            n_noracle += 1
            verdicts[name] = {"rows_match": None, "schema_match": None,
                              "hash_match": None, "spark_rows": len(spark_rows),
                              "oracle_rows": None, "err": "no_oracle"}
            print(f"  [rows-only] {name}: {len(spark_rows)} rows")
            continue
        sql = oracle[name]
        if sql not in replays:
            replays[sql] = replay(con, sql)
        result = replays[sql]
        uses[sql] -= 1
        if not uses[sql]:
            del replays[sql]
        if isinstance(result, Exception):
            n_bad += 1
            verdicts[name] = {"rows_match": False, "schema_match": False,
                              "hash_match": False, "spark_rows": len(spark_rows),
                              "oracle_rows": None,
                              "err": f"oracle_sql_error: {result}"}
            print(f"  [FAIL] {name}: oracle SQL error: {result}")
            continue
        duck_cols, duck_rows = result
        err = compare(name, spark_rows, spark_cols, duck_rows, duck_cols)
        verdicts[name] = {
            "rows_match": len(spark_rows) == len(duck_rows),
            "schema_match": sorted(spark_cols) == sorted(duck_cols),
            "hash_match": err is None,
            "spark_rows": len(spark_rows),
            "oracle_rows": len(duck_rows),
            "err": err,
        }
        if err:
            n_bad += 1
            print(f"  [FAIL] {name}: {err}")
        else:
            n_ok += 1
            print(f"  [ok] {name} ({len(spark_rows)} rows)")
    tol_bad = tolerance_bounds(out_dir, only)
    n_bad += tol_bad
    if json_path:
        if only is not None:
            print(f"[check] --json skipped: partial --only run must not "
                  f"overwrite the full-registry record at {json_path}")
        else:
            with open(json_path, "w") as f:
                json.dump(verdicts, f, indent=1, sort_keys=True)
            print(f"[check] per-query verdicts -> {json_path} "
                  f"({len(verdicts)} queries)")
    print(f"[check] ok={n_ok} fail={n_bad} rows-only={n_noracle}")
    sys.exit(1 if n_bad else 0)


# Accuracy bounds for the 4 estimate-valued rows-only queries (VERDICT r12
# #8): "rows-only by design" must not mean "unchecked" — every run derives
# the estimator error / recall from the Verify dumps themselves (exact
# counts ride along in the ndv/distinctpc outputs; q_ann_brute is the
# ground truth for the ANN tiers) and writes TOLERANCE.json next to the
# correctness artifacts. A bound violation counts as a gate FAILURE.
# NOTE (ADVICE r15): the two ANN recall floors are CALIBRATED FOR THE
# sf0.01 GATE CORPUS (the only corpus the driver runs this file against).
# Recall legitimately drops on larger/sparser corpora — a run against
# another sfDir that trips a recall floor is a calibration artifact, not a
# regression; rehearse larger corpora with `graft.AnnScale` (which measures
# recall against its own brute-force pass) instead of this gate.
TOLERANCE = {
    "ndv_rel_err": 0.10,        # HLL++ at default rsd 0.05 — 2x headroom
    "distinctpc_rel_err": 0.25, # FM/PCSA 64-map variance; measured 0.101
                                # (pcsa) at sf0.01 — 2.5x headroom (r15)
    "ivf_recall_min": 0.50,     # nprobe=4 of nlist=16; measured 0.90 at
                                # sf0.01 — catches a partial probe regression
    "ivf_guarded_recall_min": 0.80,  # q_ann_ivf_guarded only: set ABOVE the
                                # un-retrained delta artifact's measured
                                # ~0.74 so a retrain guard that fails to
                                # fire FAILS the gate (ADVICE r19) — the
                                # retrained index measures 0.90
    "lsh_recall_min": 0.50,     # hamming-2 multi-probe (tables=4,
                                # probes=25) is the pinned operating point
                                # since r19 — the knee of the curve
                                # graft.AnnScale's lsh mode measures
                                # (0.62 at sf0.01); a
                                # regression to hamming-1 (0.42) or
                                # exact-bucket (0.04) FAILs
}


def tolerance_bounds(out_dir, only):
    import pyarrow.parquet as pq

    def load(name):
        path = os.path.join(out_dir, name)
        if not os.path.isdir(path):
            return None
        return pq.read_table(path).to_pylist()

    report, n_bad = {}, 0

    def check(key, value, ok):
        nonlocal n_bad
        report[key] = {"value": round(value, 4),
                       "bound": TOLERANCE[key.rsplit(":", 1)[-1]],
                       "ok": bool(ok)}
        status = "ok" if ok else "FAIL"
        print(f"  [tol-{status}] {key} = {value:.4f}")
        if not ok:
            n_bad += 1

    def rel_errs(rows, est_col, exact_col):
        return [abs(r[est_col] - r[exact_col]) / max(r[exact_col], 1)
                for r in rows]

    ndv = load("q_agg_ndv")
    if ndv and (only is None or "q_agg_ndv" in only):
        e = max(rel_errs(ndv, "ndv_part", "exact_part"))
        check("q_agg_ndv:ndv_rel_err", e, e <= TOLERANCE["ndv_rel_err"])
    pc = load("q_distinctpc")
    if pc and (only is None or "q_distinctpc" in only):
        for col in ("pc", "pcsa"):
            e = max(rel_errs(pc, col, "exact"))
            check(f"q_distinctpc[{col}]:distinctpc_rel_err", e,
                  e <= TOLERANCE["distinctpc_rel_err"])
        e = max(rel_errs(pc, "ndv_est", "exact"))
        check("q_distinctpc[ndv]:ndv_rel_err", e,
              e <= TOLERANCE["ndv_rel_err"])
    brute = load("q_ann_brute")
    if brute:
        truth = {(r["query_id"], r["vec_id"]) for r in brute}
        for name, key in (("q_ann_ivf", "ivf_recall_min"),
                          ("q_ann_ivf_indexed", "ivf_recall_min"),
                          # delta = two-append build: centroids trained on
                          # the standing 2/3 only, so this gate also covers
                          # the harder never-saw-the-delta case
                          ("q_ann_ivf_delta", "ivf_recall_min"),
                          # guarded = the measured-recall retrain guard:
                          # at sf0.01 the delta artifact's ~0.74 trips the
                          # 0.95 floor, so this entry scores the RETRAINED
                          # index (0.90). Its bound sits ABOVE the
                          # un-retrained 0.74, so the gate doesn't just
                          # observe the guard firing — it FAILS if the
                          # guard doesn't.
                          ("q_ann_ivf_guarded", "ivf_guarded_recall_min"),
                          ("q_ann_lsh", "lsh_recall_min")):
            got_rows = load(name)
            if got_rows is None or (only is not None and name not in only):
                continue
            got = {(r["query_id"], r["vec_id"]) for r in got_rows}
            recall = (sum(1 for p in truth if p in got) / len(truth)
                      if truth else 1.0)
            check(f"{name}:{key}", recall, recall >= TOLERANCE[key])
    if report:
        # The repo-root copy is the committed record: only a FULL-registry
        # run may refresh it — a partial --only run would silently shrink
        # the 6-entry record (ADVICE r14). The out_dir copy always writes.
        dests = [os.path.join(out_dir, "TOLERANCE.json")]
        if only is None:
            dests.append(os.path.join(REPO, "TOLERANCE.json"))
        for dest in dests:
            with open(dest, "w") as f:
                json.dump(report, f, indent=1, sort_keys=True)
        print(f"[check] tolerance bounds -> TOLERANCE.json "
              f"({sum(1 for v in report.values() if v['ok'])}/{len(report)} ok)")
    return n_bad


if __name__ == "__main__":
    main()
