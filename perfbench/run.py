#!/usr/bin/env python3
"""The engine benchmark: one run of one workload.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Builds the engine and harness from source (perfbench/build.py), generates
the corpus and the seeded plan into a fresh run directory, runs the
harness JVM on `local[nproc]`, checks every output, prints the metrics and
deletes the run directory. The last stdout line is the result:
`{"correct", "attempted", "failed", "metrics"}`; the line before it holds
the details (tail percentile, per-setup times, effective confs, checks).
With `--trace 1` the metrics are the per-layer ones and the span trees go
to `.bench_out/trace-<workload>-<seed>.json`.
"""
import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import build  # noqa: E402
import corpus  # noqa: E402
import metrics  # noqa: E402
import oracle  # noqa: E402
import workloads  # noqa: E402

ROOT = build.ROOT
RUNS = os.path.join(ROOT, ".bench_run")
OUT = os.path.join(ROOT, ".bench_out")
DEADLINE_S = 170  # a run must end within 180 s; leave room to clean up

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def heap_gb():
    """Half of MemTotal, clamped to 2-8 GB."""
    try:
        with open("/proc/meminfo") as f:
            kb = next(int(l.split()[1]) for l in f if l.startswith("MemTotal:"))
        return max(2, min(8, kb // (2 * 1024 * 1024)))
    except (OSError, StopIteration, ValueError):
        return 2


def nproc():
    return len(os.sched_getaffinity(0))


def run_harness(classes, plan_path, out_dir, run_dir, heap, timeout):
    cmd = ["java", "-XX:-UsePerfData", f"-Djava.io.tmpdir={os.path.join(run_dir, 'tmp')}",
           f"-Xmx{heap}g"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", f"{classes}:{build.classpath()}", "graftbench.Harness",
            plan_path, out_dir]
    log = os.path.join(run_dir, "harness.log")
    with open(log, "w") as f:
        p = subprocess.Popen(cmd, stdout=f, stderr=subprocess.STDOUT, cwd=run_dir)
        try:
            rc = p.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            rc = "timeout"
        finally:
            if p.poll() is None:  # timed out, or this process is being stopped
                p.kill()
                p.wait()
    if rc != 0:
        with open(log) as f:
            tail = f.read()[-3000:]
        raise RuntimeError(f"harness exited with {rc}:\n{tail}")
    with open(os.path.join(out_dir, "result.json")) as f:
        return json.load(f)


def end_to_end(res, setup_s):
    """End-to-end metrics of the first window, which is never traced."""
    window = res["windows"][0]
    ops = [o for o in res["ops"] if o["window"] == window["label"]]
    lat = [(o["end"] - o["start"]) / 1000 for o in ops]
    tail, pct, beyond = metrics.tail_latency(lat)
    done = sum(1 for o in ops if o["ok"])
    m = {
        "setup_s": (setup_s, "s"),
        "qps": (done / (window["wall_ms"] / 1000), "1/s"),
        "latency_p50_s": (statistics.median(lat), "s"),
        "latency_tail_s": (tail, "s"),
    }
    by_name = {}
    for o in ops:
        by_name.setdefault(o["name"], []).append(round(o["end"] - o["start"], 1))
    detail = {"tail_percentile": pct, "tail_samples_beyond": beyond, "samples": len(lat),
              "window_s": window["wall_ms"] / 1000,
              "window_jvm": {k: v for k, v in window.items() if k not in ("label", "wall_ms")},
              "op_ms": by_name}
    return m, detail


def counts(res, checks):
    """(attempted, failed): every timed operation of every window plus
    every output check."""
    return metrics.failure_counts([o["ok"] for o in res["ops"]] + [c[1] for c in checks])


def run_metrics(res):
    """Per-layer metrics of the whole run: the median of each set-up part,
    and the JVM's peak RSS (VmHWM). The peak RSS varied by 16-40% between
    seeds under G1's adaptive sizing, so it is reported here, unbounded,
    rather than as an end-to-end metric."""
    med = lambda k: (statistics.median(s[k] for s in res["setups"]), "ms")
    return {"engine.session_ms": med("session_ms"), "setup.corpus_ms": med("corpus_ms"),
            "setup.artifact_ms": med("artifact_ms"), "setup.warmup_ms": med("warmup_ms"),
            "mem.peak_rss_mb": (res["vmhwm_kb"] / 1024, "MB")}


def jvm_metrics(window, n_ops):
    """Per-layer JVM figures of one window, per operation: process CPU,
    JIT compile time and classes loaded (generated code included)."""
    n = max(1, n_ops)
    return {"jvm.cpu_ms": (window["cpu_ms"] / n, "ms/op"),
            "jvm.jit_ms": (window["jit_ms"] / n, "ms/op"),
            "jvm.classes_loaded": (window["classes"] / n, "count/op")}


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[1])
    ap.add_argument("--workload", required=True, choices=sorted(workloads.WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    t_start = time.monotonic()
    # On SIGTERM unwind normally: the JVM is stopped and the run dir removed.
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    try:
        classes = build.build()
    except build.BuildError as e:
        print(f"[perfbench] build failed: {e}", file=sys.stderr)
        return 1

    w = workloads.WORKLOADS[args.workload]
    cores = nproc()
    heap = heap_gb()
    run_dir = os.path.join(RUNS, f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    try:
        os.makedirs(os.path.join(run_dir, "tmp"))
        corpus_dir = corpus.write(os.path.join(run_dir, "corpus"), w["sf"])
        plan = workloads.make_plan(args.workload, args.seed, args.seconds, args.trace, cores)
        plan.update({"corpus": corpus_dir, "run_dir": run_dir})
        plan_path = os.path.join(run_dir, "plan.json")
        with open(plan_path, "w") as f:
            json.dump(plan, f)
        out_dir = os.path.join(run_dir, "out")
        timeout = DEADLINE_S - (time.monotonic() - t_start)
        t_harness = time.monotonic()
        res = run_harness(classes, plan_path, out_dir, run_dir, heap, timeout)
        t_checks = time.monotonic()

        inserted = []
        if w["kind"] == "queries":
            checks = oracle.check_queries(res["verify"], res["oracle"], corpus_dir,
                                          os.path.join(build.BUILD, "oracle"),
                                          corpus.identity(w["sf"]))
        else:
            checks, inserted = oracle.check_ingest(res["steps"], corpus_dir)
        setups = res["setups"]
        setup_s = statistics.median(s["total_ms"] for s in setups) / 1000
        e2e, detail = end_to_end(res, setup_s)
        attempted, failed = counts(res, checks)
        if args.trace:
            traced = [o for o in res["ops"] if o["window"] == "traced"]
            untraced = [o for o in res["ops"] if o["window"] == "untraced-2"]
            steps = [s for s in res["steps"] if "step" in s]
            traced_steps = [s for s in steps if s["window"] == "traced"]
            # appended rows are known from the plan: copies of the base tables
            base = sum(corpus.rows(corpus_dir, t) for t in ("documents", "embeddings"))
            traced_rows = [len(s["copies"]) * base + n
                           for s, n in zip(steps, inserted) if s["window"] == "traced"]
            out = metrics.per_layer(traced, res["trace"], traced_steps, untraced, traced_rows)
            out.update(run_metrics(res))
            window = next(w for w in res["windows"] if w["label"] == "traced")
            out.update(jvm_metrics(window, len(traced)))
            os.makedirs(OUT, exist_ok=True)
            with open(os.path.join(OUT, f"trace-{args.workload}-{args.seed}.json"), "w") as f:
                json.dump([r.json(i) for i, r in enumerate(
                    metrics.op_spans(traced, res["trace"], traced_steps))], f)
        else:
            out = e2e
        detail.update({
            "workload": args.workload, "seed": args.seed, "cores": cores,
            "failed_share": failed / attempted,
            "heap_gb": heap, "heap_max_bytes": res["heap_max_bytes"],
            "peak_rss_mb": res["vmhwm_kb"] / 1024,
            "confs": res["confs"], "setups": setups,
            "wall_s": {"prepare": t_harness - t_start, "harness": t_checks - t_harness,
                       "verify_pass": res["verify_ms"] / 1000,
                       "checks": time.monotonic() - t_checks},
            "failed_checks": [c for c in checks if not c[1]][:20],
            "failed_ops": [(o["name"], o["error"]) for o in res["ops"] if not o["ok"]][:20],
        })
        print(json.dumps({"detail": detail}))
        print(json.dumps({
            "correct": failed == 0, "attempted": attempted, "failed": failed,
            "metrics": {k: {"value": v, "unit": u} for k, (v, u) in out.items()},
        }))
        return 0
    except Exception as e:  # noqa: BLE001 -- report and fail the run
        print(f"[perfbench] run failed: {e}", file=sys.stderr)
        return 1
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
        try:
            os.rmdir(RUNS)
        except OSError:
            pass


if __name__ == "__main__":
    sys.exit(main())
