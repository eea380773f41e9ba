"""Metrics of one run, from the harness record.

End-to-end metrics come from the timed window; per-layer metrics from the
traced window (job and stage records attributed to operations by job
group). Spans form one tree per operation; a layer's self time is its
span time not covered by its children.
"""
TAIL_BEYOND = 10


def tail_latency(values, beyond=TAIL_BEYOND):
    """Highest nearest-rank percentile with at least `beyond` samples above
    it: (value, percentile, samples_beyond). With too few samples there is
    no such percentile and the maximum is reported with fewer beyond it."""
    xs = sorted(values)
    n = len(xs)
    if n == 0:
        return None, None, 0
    if n <= beyond:
        return xs[-1], 100.0, 0
    rank = n - beyond - 1          # exactly `beyond` samples lie above xs[rank]
    return xs[rank], 100.0 * (rank + 1) / n, n - 1 - rank


def failure_counts(checks):
    """(attempted, failed) over operations and output checks, where each
    entry is truthy for success. Nothing is dropped: an operation that
    raised, timed out or gave a wrong answer is one failed attempt."""
    attempted = len(checks)
    failed = sum(1 for ok in checks if not ok)
    return attempted, failed


def union_length(intervals, lo=None, hi=None):
    """Total length covered by the intervals, clipped to [lo, hi]."""
    clipped = []
    for a, b in intervals:
        if lo is not None:
            a = max(a, lo)
        if hi is not None:
            b = min(b, hi)
        if b > a:
            clipped.append((a, b))
    total, end = 0.0, None
    for a, b in sorted(clipped):
        if end is None or a > end:
            total += b - a
            end = b
        elif b > end:
            total += b - end
            end = b
    return total


class Span:
    def __init__(self, name, start, end, children=()):
        self.name, self.start, self.end = name, start, end
        self.children = list(children)

    @property
    def duration(self):
        return max(0.0, self.end - self.start)

    def self_time(self):
        covered = union_length([(c.start, c.end) for c in self.children],
                               self.start, self.end)
        return self.duration - covered

    def walk(self):
        yield self
        for c in self.children:
            yield from c.walk()

    def json(self, span_id):
        return {"id": span_id, "name": self.name, "start": self.start,
                "end": self.end, "self_ms": self.self_time(),
                "children": [c.json(span_id) for c in self.children]}


def self_times(roots):
    """Summed self time per span name over all trees."""
    out = {}
    for r in roots:
        for s in r.walk():
            out[s.name] = out.get(s.name, 0.0) + s.self_time()
    return out


PHASES = ("analysis", "optimization", "planning")


def _index(trace):
    jobs_of, stages_of = {}, {}
    for j in trace["jobs"]:
        jobs_of.setdefault(j["group"], []).append(j)
    for s in trace["stages"]:
        stages_of.setdefault(s["job"], []).append(s)
    return jobs_of, stages_of


def _plan_ms(op, plans):
    phases = plans.get(op["id"], {}).get("phases", {})
    return sum(phases.get(p, 0) for p in PHASES)


def _job_span(job, stages_of):
    end = job["end"] if job["end"] >= 0 else job["start"]
    return Span("job", job["start"], end,
                [Span("stage", s["submitted"], s["completed"])
                 for s in stages_of.get(job["id"], [])
                 if s["submitted"] >= 0 and s["completed"] >= 0])


def op_spans(ops, trace, steps=()):
    """One span tree per operation: a span named by the operation's layer
    (`query`, or the ingest layers `write`, `sync`, `compact`, `stats`,
    `probe`) with `build`, `plan` and `exec` children, each holding the
    jobs (and their stages) that started inside it. Ingest sub-operations
    hang under their step's `append` span."""
    jobs_of, stages_of = _index(trace)
    by_step, roots = {}, []
    for op in ops:
        jobs = jobs_of.get(op["id"], [])
        built, end = op["built"], op["end"]
        plan_end = min(end, built + _plan_ms(op, trace["plans"]))
        children = [
            Span("build", op["start"], built,
                 [_job_span(j, stages_of) for j in jobs if j["start"] < built]),
            Span("plan", built, plan_end),
            Span("exec", plan_end, end,
                 [_job_span(j, stages_of) for j in jobs if j["start"] >= built]),
        ]
        span = Span(op["layer"], op["start"], end, children)
        if op["step"] >= 0:
            by_step.setdefault(op["step"], []).append(span)
        else:
            roots.append(span)
    for s in steps:
        if s["step"] in by_step:
            roots.append(Span("append", s["start"], s["end"], by_step[s["step"]]))
    return roots


def _mean(xs):
    xs = list(xs)
    return sum(xs) / len(xs) if xs else 0.0


def per_layer(ops, trace, steps, untraced_ops, ingested_rows):
    """Every per-layer metric of the traced window, as {name: (value, unit)}.
    Operation-level figures are means per operation (`/op`), ingest
    figures means per step (`/step`); `ingested_rows` holds the rows each
    traced step appended and inserted."""
    n = max(1, len(ops))
    jobs_of, stages_of = _index(trace)
    plans = trace["plans"]
    phase = lambda o, p: plans.get(o["id"], {}).get("phases", {}).get(p, 0)
    matched = [o for o in ops if o["id"] in plans]
    build_jobs = lambda o: [j for j in jobs_of.get(o["id"], []) if j["start"] < o["built"]]
    exec_jobs = lambda o: [j for j in jobs_of.get(o["id"], []) if j["start"] >= o["built"]]
    op_stages = lambda o: [s for j in jobs_of.get(o["id"], []) for s in stages_of.get(j["id"], [])]
    m = {}

    m["build.ms"] = (_mean(o["built"] - o["start"] for o in ops), "ms/op")
    m["build.jobs"] = (_mean(len(build_jobs(o)) for o in ops), "jobs/op")
    for p in PHASES:
        m[f"plan.{p}_ms"] = (_mean(phase(o, p) for o in matched), "ms/op")
    m["plan.exchanges"] = (_mean(plans[o["id"]]["exchanges"] for o in matched), "count/op")
    m["plan.fallback_exprs"] = (_mean(plans[o["id"]]["fallbacks"] for o in matched), "count/op")

    gaps, exec_ms = [], []
    for o in ops:
        lo = min(o["end"], o["built"] + _plan_ms(o, plans))
        ivs = [(s["submitted"], s["completed"]) for j in exec_jobs(o)
               for s in stages_of.get(j["id"], []) if s["submitted"] >= 0 and s["completed"] >= 0]
        exec_ms.append(o["end"] - lo)
        gaps.append((o["end"] - lo) - union_length(ivs, lo, o["end"]))
    m["exec.ms"] = (_mean(exec_ms), "ms/op")
    m["exec.jobs"] = (_mean(len(exec_jobs(o)) for o in ops), "jobs/op")
    m["exec.stages"] = (_mean(len(op_stages(o)) for o in ops), "stages/op")
    m["exec.tasks"] = (_mean(sum(s["tasks"] for s in op_stages(o)) for o in ops), "tasks/op")
    m["exec.driver_gap_ms"] = (_mean(gaps), "ms/op")
    waits = []
    for o in ops:
        for j in jobs_of.get(o["id"], []):
            launches = [s["first_launch"] for s in stages_of.get(j["id"], []) if s["first_launch"] >= 0]
            if launches:
                waits.append(min(launches) - j["start"])
    m["sched.launch_wait_ms"] = (_mean(waits), "ms/job")

    stages = [s for o in ops for s in op_stages(o)]
    tot = lambda k: sum(s[k] for s in stages)
    for name, key, unit in (("task.run_ms", "run_ms", "ms/op"), ("task.cpu_ms", "cpu_ms", "ms/op"),
                            ("task.gc_ms", "gc_ms", "ms/op"), ("scan.bytes", "scan_bytes", "B/op"),
                            ("scan.records", "scan_records", "rows/op"),
                            ("shuffle.write_bytes", "shuffle_write_bytes", "B/op"),
                            ("shuffle.read_bytes", "shuffle_read_bytes", "B/op"),
                            ("shuffle.fetch_wait_ms", "fetch_wait_ms", "ms/op"),
                            ("spill.bytes", "spill_bytes", "B/op")):
        m[name] = (tot(key) / n, unit)
    skews = [s["task_max_ms"] / max(1, s["task_median_ms"]) for s in stages if s["tasks"] >= 2]
    m["task.skew"] = (_mean(skews), "ratio")
    m["task.failed_attempts"] = (float(tot("failed_attempts")), "count")
    m["mem.peak_exec_bytes"] = (float(max([s["peak_exec_bytes"] for s in stages] or [0])), "B")

    # write path: ingest steps (zero on query workloads)
    n_steps = max(1, len(steps))
    layer_ms = lambda layer: sum(o["end"] - o["start"] for o in ops if o["layer"] == layer)
    user_bytes = sum(s["appended_bytes"] + s["inserted_bytes"] for s in steps)
    step_ms = sum(s["end"] - s["start"] for s in steps)
    m["write.ms"] = (layer_ms("write") / n_steps, "ms/step")
    m["write.bytes"] = (user_bytes / n_steps, "B/step")
    m["write.files"] = (sum(s["appended_files"] + s["inserted_files"] for s in steps) / n_steps,
                        "files/step")
    m["stats.ms"] = (layer_ms("stats") / n_steps, "ms/step")
    m["delta.sync_ms"] = (layer_ms("sync") / n_steps, "ms/step")
    m["delta.compact_ms"] = (layer_ms("compact") / n_steps, "ms/step")
    m["delta.compactions"] = (float(sum(1 for s in steps if s["compacted"])), "count")
    m["delta.live_batches"] = (_mean(s["live_batches"] for s in steps), "batches")
    m["delta.artifact_bytes"] = (float(steps[-1]["artifact_bytes"]) if steps else 0.0, "B")
    rows = sum(ingested_rows)
    m["ingest.rows_per_s"] = (rows / (step_ms / 1000) if step_ms > 0 else 0.0, "rows/s")
    m["ingest.write_amp"] = (sum(s["fs_bytes_written"] for s in steps) / user_bytes
                             if user_bytes else 0.0, "ratio")

    # shares of operation wall time: does each workload's reason hold?
    wall = max(1e-9, sum(o["end"] - o["start"] for o in ops))
    m["share.build_plan"] = (sum(o["built"] - o["start"] + _plan_ms(o, plans) for o in ops) / wall,
                             "ratio")
    m["share.driver_gap"] = (sum(gaps) / wall, "ratio")
    m["share.write_path"] = (sum(layer_ms(x) for x in ("write", "sync", "compact", "stats")) / wall,
                             "ratio")
    m["task.cpu_per_wall"] = (tot("cpu_ms") / wall, "cores")
    selfs = self_times(op_spans(ops, trace, steps))
    for name in ("query", "append", "write", "sync", "compact", "stats", "probe",
                 "build", "plan", "exec", "job", "stage"):
        m[f"self.{name}_ms"] = (selfs.get(name, 0.0) / n, "ms/op")

    lat = _mean(o["end"] - o["start"] for o in ops)
    base = _mean(o["end"] - o["start"] for o in untraced_ops)
    m["trace.overhead_ms"] = (lat - base, "ms/op")
    m["trace.overhead_share"] = ((lat - base) / base if base else 0.0, "ratio")
    return m
