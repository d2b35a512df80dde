"""Arithmetic of the benchmark: percentiles, interval unions, span self
time, and the reduction of one run's raw record (and span file) to its
end-to-end or per-layer metrics. No I/O and no Spark here, so
test_benchlib.py can pin every rule."""

import math
import statistics
from collections import defaultdict

# Samples that must lie beyond a reported tail percentile.
TAIL_MIN_BEYOND = 10

END_TO_END = [
    # name, unit
    ("setup_s", "s"),
    ("first_pass_s", "s"),
    ("warm_pass_s", "s"),
    ("heap_live_mb", "MB"),
]

# The query objects and streaming doors the declared workloads run
# (Workloads.scala, StreamIngest.scala).
MODULES = [
    "PipelineE2EQueries", "CoreQueries", "TicketQueries", "VectorQueries",
    "GraphQueries", "TextQueries", "SnapshotPoll", "StreamingNearDup",
]
LEGS = ["poll", "neardup"]
LEG_FIELDS = [
    ("add_batch_s", "s"), ("plan_s", "s"), ("wal_s", "s"), ("offset_s", "s"),
    ("state_rows", "count"), ("state_mb", "MB"), ("state_commit_s", "s"),
    ("late_rows", "count"), ("rows_per_s", "1/s"),
]
EXEC_FIELDS = [
    # task-metric attribute on stage spans, metric name, unit
    ("cpu_s", "exec.cpu_s", "s"), ("run_s", "exec.run_s", "s"),
    ("deser_s", "exec.deser_s", "s"), ("gc_s", "exec.gc_s", "s"),
    ("shuffle_read_mb", "exec.shuffle_read_mb", "MB"),
    ("shuffle_write_mb", "exec.shuffle_write_mb", "MB"),
    ("fetch_wait_s", "exec.fetch_wait_s", "s"), ("spill_mb", "exec.spill_mb", "MB"),
    ("input_mb", "exec.input_mb", "MB"), ("failed_tasks", "exec.failed_tasks", "count"),
]
SELF_KINDS = ["query", "build", "action", "plan", "job", "stage", "batch"]

PER_LAYER = (
    [("tables.load_s", "s"), ("tables.load_jobs", "count"),
     ("queries.build_s", "s"), ("queries.eager_jobs", "count"),
     ("queries.eager_jobs_first", "count"), ("queries.retained_mb", "MB")]
    + [(f"module.{m}.wall_s", "s") for m in MODULES]
    + [("plan.analysis_s", "s"), ("plan.optimize_s", "s"), ("plan.physical_s", "s"),
       ("codegen.compiles", "count"), ("codegen.compile_s", "s"), ("jvm.jit_s", "s"),
       ("codegen.compiles_first", "count"), ("codegen.compile_s_first", "s"),
       ("jvm.jit_s_first", "s"),
       ("sched.jobs", "count"), ("sched.stages", "count"), ("sched.tasks", "count"),
       ("sched.job_s", "s"), ("sched.driver_gap_s", "s"), ("sched.delay_s", "s")]
    + [(name, unit) for _, name, unit in EXEC_FIELDS]
    + [("jvm.gc_s", "s")]
    + [(f"stream.{leg}.{f}", unit) for leg in LEGS for f, unit in LEG_FIELDS]
    + [(f"self.{k}_s", "s") for k in SELF_KINDS]
    + [("trace.unattributed_s", "s"), ("trace.overhead", "ratio")]
)

PLAN_PHASES = {"analysis": "plan.analysis_s", "optimization": "plan.optimize_s",
               "planning": "plan.physical_s"}


def percentile(values, q):
    """Nearest-rank q-quantile (0 < q <= 1) of a non-empty sample."""
    if not values:
        raise ValueError("percentile of an empty sample")
    if not 0 < q <= 1:
        raise ValueError(f"quantile {q} outside (0, 1]")
    xs = sorted(values)
    return xs[max(0, math.ceil(q * len(xs)) - 1)]


def tail(values, q):
    """The q-quantile, refused unless at least TAIL_MIN_BEYOND samples lie
    beyond its rank."""
    n = len(values)
    beyond = n - max(1, math.ceil(q * n))
    if beyond < TAIL_MIN_BEYOND:
        raise ValueError(f"p{q * 100:g} of {n} samples leaves {beyond} beyond it; "
                         f"{TAIL_MIN_BEYOND} needed")
    return percentile(values, q)


def highest_tail(values, levels=(0.99, 0.95, 0.9, 0.8, 0.75, 0.5)):
    """(level, value) for the highest listed level that keeps enough
    samples beyond it, or None."""
    for q in levels:
        try:
            return q, tail(values, q)
        except ValueError:
            continue
    return None


def union_length(intervals):
    """Total length covered by (start, end) intervals; overlaps count once."""
    total = 0.0
    cur_s = cur_e = None
    for s, e in sorted((s, e) for s, e in intervals if e > s):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def driver_gap(wall, job_intervals):
    """Wall time during which no job ran."""
    return wall - union_length(job_intervals)


def self_time(span, children):
    """A span's duration minus the part of it its children cover."""
    s, e = span["start"], span["end"]
    clipped = [(max(s, c["start"]), min(e, c["end"])) for c in children]
    return (e - s) - union_length(clipped)


def self_times(spans):
    """Self time (ms) summed per span kind."""
    kids = defaultdict(list)
    for sp in spans:
        kids[sp["parent"]].append(sp)
    out = defaultdict(float)
    for sp in spans:
        out[sp["kind"]] += self_time(sp, kids.get(sp["id"], []))
    return dict(out)


def pass_walls(raw):
    """Wall seconds of each pass: the sum of its operations' walls."""
    return [sum(op["wall_s"] for op in p["ops"]) for p in raw["passes"]]


def counted_warm(raw):
    """The warm passes the metrics use: a fixed number after the first
    pass, whatever else ran to fill the requested seconds."""
    return raw["passes"][1:1 + raw["counted_warm"]]


def op_latencies(raw):
    """Warm per-operation latencies: queries for batch workloads,
    micro-batch trigger times for the streaming one."""
    out = []
    for p in counted_warm(raw):
        for op in p["ops"]:
            out.extend(op["batches_s"] if "batches_s" in op else [op["wall_s"]])
    return out


def end_to_end(raw):
    walls = pass_walls(raw)
    return {
        "setup_s": raw["setup_s"],
        "first_pass_s": walls[0],
        "warm_pass_s": statistics.median(walls[1:1 + raw["counted_warm"]]),
        "heap_live_mb": max(p["heap_live_mb"] for p in [raw["passes"][0]] + counted_warm(raw)),
    }


def outcome(raw, expected):
    """(attempted, failed, problems): every timed operation and every
    output check is one attempt; a failed operation, a failed check or a
    fingerprint that differs from the recorded one is one failure."""
    problems = []
    attempted = failed = 0
    for p in raw["passes"]:
        for op in p["ops"]:
            attempted += 1
            if op.get("error"):
                failed += 1
                problems.append(f"{op['name']} (pass {p['index']}): {op['error']}")
    for c in raw["checks"]:
        attempted += 1
        want = expected.get(c["name"])
        if c.get("error"):
            problem = c["error"]
        elif want is None:
            problem = f"no expected fingerprint recorded (got {c['fingerprint']})"
        elif c["fingerprint"] != want:
            problem = f"fingerprint {c['fingerprint']} != expected {want}"
        else:
            continue
        failed += 1
        problems.append(f"{c['name']}: {problem}")
    return attempted, failed, problems


def _under_batches(spans):
    """Streaming jobs are submitted under their leg's span; hang each one
    under the micro-batch whose interval holds it, so batch self time is
    the batch's time outside jobs."""
    batches = [s for s in spans if s["kind"] == "batch"]
    if not batches:
        return spans
    out = []
    for s in spans:
        if s["kind"] == "job":
            for b in batches:
                if b["qid"] == s["qid"] and b["start"] <= s["start"] and s["end"] <= b["end"]:
                    s = dict(s, parent=b["id"])
                    break
        out.append(s)
    return out


def _pass_layers(p, spans_by_qid, all_spans):
    """Per-layer numbers of one traced pass."""
    qids = {op["qid"] for op in p["ops"]}
    spans = _under_batches([s for q in qids for s in spans_by_qid.get(q, [])])
    pass_span = [s for s in all_spans if s["id"] == f"p{p['index']}" and s["kind"] == "pass"]
    wall = sum(op["wall_s"] for op in p["ops"])
    jobs = [s for s in spans if s["kind"] == "job"]
    stages = [s for s in spans if s["kind"] == "stage"]
    builds = {s["id"] for s in spans if s["kind"] == "build"}
    job_intervals = [(j["start"] / 1e3, j["end"] / 1e3) for j in jobs]
    job_s = union_length(job_intervals)
    table_jobs = [j for j in jobs if "Tables.scala" in j["name"]]
    m = defaultdict(float)
    m["tables.load_s"] = union_length([(j["start"], j["end"]) for j in table_jobs]) / 1e3
    m["tables.load_jobs"] = len(table_jobs)
    m["queries.build_s"] = sum(op.get("build_s", 0.0) for op in p["ops"])
    m["queries.eager_jobs"] = sum(1 for j in jobs if j["parent"] in builds)
    m["queries.retained_mb"] = p["retained_mb"]
    for op in p["ops"]:
        m[f"module.{op['module']}.wall_s"] += op["wall_s"]
    plan_total = 0.0
    for s in spans:
        if s["kind"] == "plan" and s["name"] in PLAN_PHASES:
            d = (s["end"] - s["start"]) / 1e3
            m[PLAN_PHASES[s["name"]]] += d
            plan_total += d
    m["codegen.compiles"] = p["codegen_compiles"]
    m["codegen.compile_s"] = p["codegen_compile_s"]
    m["jvm.jit_s"] = p["jit_s"]
    m["jvm.gc_s"] = p["gc_s"]
    m["sched.jobs"] = len(jobs)
    m["sched.stages"] = len(stages)
    m["sched.tasks"] = sum(s["attrs"].get("tasks", 0) for s in stages)
    m["sched.job_s"] = job_s
    m["sched.driver_gap_s"] = driver_gap(wall, job_intervals)
    m["sched.delay_s"] = sum(s["attrs"].get("delay_s", 0) for s in stages)
    for attr, name, _ in EXEC_FIELDS:
        m[name] = sum(s["attrs"].get(attr, 0) for s in stages)
    legs = {op["qid"]: op for op in p["ops"] if "batches_s" in op}
    for s in spans:
        if s["kind"] == "batch" and s["qid"] in legs:
            leg = legs[s["qid"]]["name"]
            a = s["attrs"]
            for f in ("add_batch_s", "plan_s", "wal_s", "offset_s", "state_commit_s",
                      "late_rows"):
                m[f"stream.{leg}.{f}"] += a.get(f, 0)
            for f in ("state_rows", "state_mb"):
                m[f"stream.{leg}.{f}"] = max(m[f"stream.{leg}.{f}"], a.get(f, 0))
    for op in legs.values():
        m[f"stream.{op['name']}.rows_per_s"] = op["rows"] / op["wall_s"] if op["wall_s"] else 0
    for kind, ms in self_times(spans + pass_span).items():
        if kind in SELF_KINDS:
            m[f"self.{kind}_s"] = ms / 1e3
    m["trace.unattributed_s"] = wall - job_s - plan_total
    return m, wall


def per_layer(raw, spans):
    """Per-layer metrics of a traced run: the median over its traced warm
    passes, the first pass for the *_first counters, and the ratio of
    traced to untraced warm-pass walls as the tracing overhead. Also
    returns each traced pass's split for the summary file."""
    by_qid = defaultdict(list)
    for s in spans:
        by_qid[s["qid"]].append(s)
    passes = raw["passes"]
    warm = counted_warm(raw)
    traced = [p for p in warm if p["traced"]]
    per_pass = [_pass_layers(p, by_qid, spans) for p in traced]
    names = [n for n, _ in PER_LAYER]
    out = {n: (statistics.median(m[n] for m, _ in per_pass) if per_pass else 0.0)
           for n in names}
    first, _ = _pass_layers(passes[0], by_qid, spans)
    out["queries.eager_jobs_first"] = first["queries.eager_jobs"]
    out["codegen.compiles_first"] = first["codegen.compiles"]
    out["codegen.compile_s_first"] = first["codegen.compile_s"]
    out["jvm.jit_s_first"] = first["jvm.jit_s"]
    walls = [sum(op["wall_s"] for op in p["ops"]) for p in warm]
    on = [w for p, w in zip(warm, walls) if p["traced"]]
    off = [w for p, w in zip(warm, walls) if not p["traced"]]
    out["trace.overhead"] = statistics.median(on) / statistics.median(off) if on and off else 0.0
    split = [{"pass": p["index"], "wall_s": w,
              **{k: m[k] for k in ("queries.build_s", "plan.analysis_s", "plan.optimize_s",
                                   "plan.physical_s", "sched.job_s", "sched.driver_gap_s",
                                   "trace.unattributed_s")},
              "self_s": {k: m[f"self.{k}_s"] for k in SELF_KINDS}}
             for p, (m, w) in zip(traced, per_pass)]
    return out, split
