#!/usr/bin/env python3
"""WRITE-path differential fuzzer (NOT part of the library): generates seeded
multi-statement scripts — CTAS, INSERT INTO append, static and DYNAMIC
partition INSERT OVERWRITE — runs them through the engine session
(graft.SqlRunner) and replays the equivalent table mutations in DuckDB,
then hash-compares the read-back table contents.

DuckDB has no partition-overwrite, so the twin spells the SEMANTICS out:
dynamic overwrite = DELETE the partitions present in the source, then INSERT
(exactly what spark.sql.sources.partitionOverwriteMode=dynamic promises);
static overwrite = DELETE that one partition, then INSERT with the literal.
A regression in the engine's overwrite granularity (e.g. wiping sibling
partitions, the default "static" mode's behavior) diverges immediately.

Columns stay in the exact cross-engine-deterministic subset the read fuzzer
uses (bigint keys, DECIMAL(12,2) money, low-card category strings — no raw
doubles, no timestamps).

Usage: python3 tools/fuzz_write.py [--n 250] [--seed 7]
       [--sf /root/testdata/sf0.001]
"""
import argparse
import json
import os
import random
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, os.path.join(REPO, "tools"))
from check import ADD_OPENS, TABLES, compare  # noqa: E402

# (source table, key col, int col, money col, partition/category col+values)
SOURCES = [
    ("lineitem", "l_orderkey", "l_linenumber", "l_extendedprice",
     "l_returnflag", ["A", "N", "R"]),
    ("orders", "o_orderkey", "o_custkey", "o_totalprice",
     "o_orderstatus", ["O", "F", "P"]),
    ("customer", "c_custkey", "c_nationkey", "c_acctbal",
     "c_mktsegment", ["BUILDING", "MACHINERY", "AUTOMOBILE", "HOUSEHOLD",
                      "FURNITURE"]),
]


def src_select(rng, s, pred_extra=""):
    """Deterministic (k, i, v, p) projection of a slice of the source."""
    tbl, key, icol, mcol, cat, _ = s
    lo = rng.randrange(0, 5000)
    hi = lo + rng.randrange(500, 20000)
    pred = f"{key} % 7919 BETWEEN {lo % 797} AND {(lo % 797) + rng.randrange(50, 400)} AND {key} < {hi}"
    if pred_extra:
        pred += f" AND {pred_extra}"
    return (f"SELECT {key} AS k, {icol} AS i, "
            f"CAST({mcol} AS DECIMAL(12,2)) AS v, {cat} AS p "
            f"FROM {tbl} WHERE {pred}")


def cat_pred(rng, s, n=None):
    _, _, _, _, cat, vals = s
    n = n or rng.randrange(1, len(vals))
    picked = rng.sample(vals, n)
    return "{} IN ({})".format(cat, ", ".join(f"'{v}'" for v in picked)), picked


def gen_ctas(rng, name, s):
    q = src_select(rng, s)
    spark = (f"CREATE TABLE t_{name} USING parquet AS {q} ;; "
             f"SELECT k, i, v, p FROM t_{name}")
    duck = (f"CREATE TABLE t_{name} AS {q} ;; "
            f"SELECT k, i, v, p FROM t_{name}")
    return spark, duck


def gen_append(rng, name, s):
    q1, q2 = src_select(rng, s), src_select(rng, s)
    spark = (f"CREATE TABLE t_{name} USING parquet AS {q1} ;; "
             f"INSERT INTO t_{name} {q2} ;; "
             f"SELECT k, i, v, p FROM t_{name}")
    duck = (f"CREATE TABLE t_{name} AS {q1} ;; "
            f"INSERT INTO t_{name} {q2} ;; "
            f"SELECT k, i, v, p FROM t_{name}")
    return spark, duck


def gen_dynamic_overwrite(rng, name, s):
    q1 = src_select(rng, s)
    p2, _ = cat_pred(rng, s)
    q2 = src_select(rng, s, p2)
    ddl = f"(k BIGINT, i BIGINT, v DECIMAL(12,2), p STRING)"
    spark = (f"CREATE TABLE t_{name} {ddl} USING parquet PARTITIONED BY (p) ;; "
             f"INSERT INTO t_{name} {q1} ;; "
             f"INSERT OVERWRITE TABLE t_{name} {q2} ;; "
             f"SELECT k, i, v, p FROM t_{name}")
    duck = (f"CREATE TABLE t_{name} (k BIGINT, i BIGINT, v DECIMAL(12,2), p VARCHAR) ;; "
            f"INSERT INTO t_{name} {q1} ;; "
            f"DELETE FROM t_{name} WHERE p IN (SELECT DISTINCT p FROM ({q2})) ;; "
            f"INSERT INTO t_{name} {q2} ;; "
            f"SELECT k, i, v, p FROM t_{name}")
    return spark, duck


def gen_static_overwrite(rng, name, s):
    tbl, key, icol, mcol, cat, vals = s
    q1 = src_select(rng, s)
    part = rng.choice(vals)
    # the overwriting slice: may be empty — static overwrite must still
    # clear the partition
    lo = rng.randrange(0, 797)
    q2cols = (f"SELECT {key} AS k, {icol} AS i, "
              f"CAST({mcol} AS DECIMAL(12,2)) AS v FROM {tbl} "
              f"WHERE {cat} = '{part}' AND {key} % 7919 BETWEEN {lo} AND {lo + rng.randrange(0, 300)}")
    ddl = f"(k BIGINT, i BIGINT, v DECIMAL(12,2), p STRING)"
    spark = (f"CREATE TABLE t_{name} {ddl} USING parquet PARTITIONED BY (p) ;; "
             f"INSERT INTO t_{name} {q1} ;; "
             f"INSERT OVERWRITE TABLE t_{name} PARTITION (p='{part}') {q2cols} ;; "
             f"SELECT k, i, v, p FROM t_{name}")
    duck = (f"CREATE TABLE t_{name} (k BIGINT, i BIGINT, v DECIMAL(12,2), p VARCHAR) ;; "
            f"INSERT INTO t_{name} {q1} ;; "
            f"DELETE FROM t_{name} WHERE p = '{part}' ;; "
            f"INSERT INTO t_{name} SELECT k, i, v, '{part}' AS p FROM ({q2cols}) ;; "
            f"SELECT k, i, v, p FROM t_{name}")
    return spark, duck


def gen_ctas_agg(rng, name, s):
    tbl, key, icol, mcol, cat, _ = s
    q = (f"SELECT {cat} AS p, {key} % 97 AS k, COUNT(1) AS i, "
         f"SUM(CAST({mcol} AS DECIMAL(12,2))) AS v "
         f"FROM {tbl} WHERE {key} % 13 < {rng.randrange(2, 12)} "
         f"GROUP BY 1, 2")
    spark = (f"CREATE TABLE t_{name} USING parquet AS {q} ;; "
             f"INSERT INTO t_{name} {q} ;; "
             f"SELECT p, k, i, v FROM t_{name}")
    duck = (f"CREATE TABLE t_{name} AS {q} ;; "
            f"INSERT INTO t_{name} {q} ;; "
            f"SELECT p, k, i, v FROM t_{name}")
    return spark, duck


# --- UTF-8 write-path coverage (VERDICT r14/r15 task #7) --------------------
# Multibyte PAYLOADS (2/3/4-byte planes) and multibyte PARTITION VALUES.
# Partition values are the interesting half: Spark escapes them into
# partition directory names and must parse them back on read, so a
# dynamic-overwrite + read-back round trip catches any encode/decode drift.
# Content rules: no apostrophes (literal safety), no leading/trailing
# whitespace in partition values (Hive-layout path trimming), no '/' or
# control chars (kept to the letters+emoji planes the read fuzzer probes).
UTF8_PARTS = ["中文", "русский", "ελληνικά", "emoji🚀", "naïve", "한국어",
              "עברית", "𝒻𝓊𝓃", "ASCII"]
UTF8_WORDS = ["café", "crème", "müller", "зелёная", "ёлочка", "θάλασσα",
              "الشمس", "השמש", "天空", "蓝色", "오늘", "날씨", "आज", "अच्छा",
              "🚀", "😀", "𝕛𝕠𝕪", "𐌰𐌱𐌲", "plain", "text"]


def utf8_values(rng, parts=None):
    """Inline multilingual relation, identical text for both engines."""
    parts = parts or UTF8_PARTS
    rows = []
    for i in range(rng.randrange(8, 30)):
        k = rng.randrange(0, 10 ** 6)
        t = " ".join(rng.choice(UTF8_WORDS)
                     for _ in range(rng.randrange(1, 4)))
        p = rng.choice(parts)
        v = f"{rng.randrange(0, 100000)}.{rng.randrange(0, 100):02d}"
        rows.append(f"({k}, '{t}', {v}, '{p}')")
    return ("(VALUES " + ", ".join(rows) + ") src(k, t, v, p)")


def _utf8_select(rng, parts=None):
    return (f"SELECT k, t, CAST(v AS DECIMAL(12,2)) AS v, p "
            f"FROM {utf8_values(rng, parts)}")


def gen_utf8_ctas(rng, name, s):
    q = _utf8_select(rng)
    spark = (f"CREATE TABLE t_{name} USING parquet AS {q} ;; "
             f"SELECT k, t, v, p FROM t_{name}")
    duck = (f"CREATE TABLE t_{name} AS {q} ;; "
            f"SELECT k, t, v, p FROM t_{name}")
    return spark, duck


def gen_utf8_dynamic_overwrite(rng, name, s):
    q1 = _utf8_select(rng)
    # the overwriting slice targets a subset of the multibyte partitions
    q2 = _utf8_select(rng, rng.sample(UTF8_PARTS, rng.randrange(1, 4)))
    ddl = "(k BIGINT, t STRING, v DECIMAL(12,2), p STRING)"
    spark = (f"CREATE TABLE t_{name} {ddl} USING parquet PARTITIONED BY (p) ;; "
             f"INSERT INTO t_{name} {q1} ;; "
             f"INSERT OVERWRITE TABLE t_{name} {q2} ;; "
             f"SELECT k, t, v, p FROM t_{name}")
    duck = (f"CREATE TABLE t_{name} (k BIGINT, t VARCHAR, v DECIMAL(12,2), p VARCHAR) ;; "
            f"INSERT INTO t_{name} {q1} ;; "
            f"DELETE FROM t_{name} WHERE p IN (SELECT DISTINCT p FROM ({q2})) ;; "
            f"INSERT INTO t_{name} {q2} ;; "
            f"SELECT k, t, v, p FROM t_{name}")
    return spark, duck


def gen_utf8_static_overwrite(rng, name, s):
    q1 = _utf8_select(rng)
    part = rng.choice(UTF8_PARTS)
    # overwriting slice: may be empty — overwrite must still clear the
    # multibyte-named partition
    sub = _utf8_select(rng, rng.sample(UTF8_PARTS, 2))
    q2cols = f"SELECT k, t, v FROM ({sub}) WHERE p = '{part}' OR k % 3 = 0"
    ddl = "(k BIGINT, t STRING, v DECIMAL(12,2), p STRING)"
    spark = (f"CREATE TABLE t_{name} {ddl} USING parquet PARTITIONED BY (p) ;; "
             f"INSERT INTO t_{name} {q1} ;; "
             f"INSERT OVERWRITE TABLE t_{name} PARTITION (p='{part}') {q2cols} ;; "
             f"SELECT k, t, v, p FROM t_{name}")
    duck = (f"CREATE TABLE t_{name} (k BIGINT, t VARCHAR, v DECIMAL(12,2), p VARCHAR) ;; "
            f"INSERT INTO t_{name} {q1} ;; "
            f"DELETE FROM t_{name} WHERE p = '{part}' ;; "
            f"INSERT INTO t_{name} SELECT k, t, v, '{part}' AS p FROM ({q2cols}) q ;; "
            f"SELECT k, t, v, p FROM t_{name}")
    return spark, duck


def gen_utf8_tagged_corpus(rng, name, s):
    # real-table slice tagged with multibyte partition values via CASE —
    # larger row counts than the VALUES form, same dir-escaping round trip
    tbl, key, icol, mcol, cat, vals = s
    arms = " ".join(f"WHEN '{v}' THEN '{p}·{v}'"
                    for v, p in zip(vals, rng.sample(UTF8_PARTS, len(vals))))
    lo = rng.randrange(0, 797)
    q = (f"SELECT {key} AS k, {icol} AS i, "
         f"CAST({mcol} AS DECIMAL(12,2)) AS v, "
         f"CASE {cat} {arms} ELSE 'другое' END AS p "
         f"FROM {tbl} WHERE {key} % 7919 BETWEEN {lo} AND {lo + rng.randrange(50, 400)}")
    spark = (f"CREATE TABLE t_{name} USING parquet PARTITIONED BY (p) AS {q} ;; "
             f"SELECT k, i, v, p FROM t_{name}")
    duck = (f"CREATE TABLE t_{name} AS {q} ;; "
            f"SELECT k, i, v, p FROM t_{name}")
    return spark, duck


GENS = [gen_ctas, gen_append, gen_dynamic_overwrite, gen_dynamic_overwrite,
        gen_static_overwrite, gen_static_overwrite, gen_ctas_agg,
        gen_utf8_ctas, gen_utf8_dynamic_overwrite, gen_utf8_dynamic_overwrite,
        gen_utf8_static_overwrite, gen_utf8_tagged_corpus]


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--n", type=int, default=250)
    ap.add_argument("--seed", type=int, default=7)
    ap.add_argument("--sf", default="/root/testdata/sf0.001")
    ap.add_argument("--out", default="/tmp/graft_fuzz_write")
    args = ap.parse_args()

    rng = random.Random(args.seed)
    scripts = {}
    for i in range(args.n):
        name = f"w{i:04d}"
        gen = rng.choice(GENS)
        scripts[name] = gen(rng, name, rng.choice(SOURCES))
    os.makedirs(args.out, exist_ok=True)
    sfile = os.path.join(args.out, "scripts.tsv")
    with open(sfile, "w") as f:
        for name, (spark_s, _) in sorted(scripts.items()):
            f.write(f"{name}\t{spark_s}\n")

    cmd = ["java"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-Xmx8g", "-Dspark.sql.session.timeZone=UTC",
            "-cp", f"{REPO}/target/scala-2.13/classes:/opt/spark/jars/*",
            "graft.SqlRunner", args.sf, sfile, args.out]
    r = subprocess.run(cmd, capture_output=True, text=True)
    if r.returncode != 0:
        print(r.stderr[-3000:])
        sys.exit(1)
    spark_errors = {}
    with open(os.path.join(args.out, "errors.txt")) as f:
        for line in f:
            if "\t" in line:
                n, m = line.rstrip("\n").split("\t", 1)
                spark_errors[n] = m

    import duckdb
    import pyarrow.parquet as pq
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{args.sf}/{t}.parquet')")
    n_ok = n_bad = n_err = 0
    for name, (spark_s, duck_s) in sorted(scripts.items()):
        stmts = [s.strip() for s in duck_s.split(";;") if s.strip()]
        duck_err = None
        try:
            for s in stmts[:-1]:
                con.execute(s)
            res = con.execute(stmts[-1])
            duck_cols = [d[0] for d in res.description]
            duck_rows = res.fetchall()
        except Exception as e:
            duck_err = str(e)
        finally:
            try:
                con.execute(f"DROP TABLE IF EXISTS t_{name}")
            except Exception:
                pass
        if name in spark_errors or duck_err:
            if bool(name in spark_errors) != bool(duck_err):
                n_bad += 1
                print(f"[DIVERGE-ERR] {name}: spark={spark_errors.get(name)} "
                      f"duck={duck_err}\n  spark: {spark_s}\n  duck:  {duck_s}")
            else:
                n_err += 1
            continue
        tbl = pq.read_table(os.path.join(args.out, name))
        spark_cols = tbl.column_names
        spark_rows = [tuple(r[c] for c in spark_cols) for r in tbl.to_pylist()]
        err = compare(name, spark_rows, spark_cols, duck_rows, duck_cols)
        if err:
            n_bad += 1
            print(f"[DIVERGE] {name}: {err}\n  spark: {spark_s}\n  duck:  {duck_s}")
        else:
            n_ok += 1
    print(f"[fuzz-write] seed={args.seed} n={args.n} ok={n_ok} "
          f"diverged={n_bad} both-err={n_err}")
    sys.exit(1 if n_bad else 0)


if __name__ == "__main__":
    main()
