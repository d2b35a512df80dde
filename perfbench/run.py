#!/usr/bin/env python3
"""Runs one benchmark workload and prints its result as the last line.

    python3 perfbench/run.py --workload fleet_etl --seed 1 --seconds 5 --trace 0

Builds the program from source (perfbench/build.py), starts one JVM for
the run, checks every output against perfbench/expected.json and prints
one JSON object: {"correct", "attempted", "failed", "metrics"}. With
--trace 0 the metrics are the end-to-end ones; with --trace 1 they are
the per-layer ones, and the span file and per-layer split are written
under .bench_build/out/. `--record` instead runs every workload under two
seeds and rewrites expected.json from their outputs. See README.md."""

import argparse
import json
import os
import shutil
import subprocess
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))
import benchlib  # noqa: E402
import build  # noqa: E402

WORKLOADS = ["fleet_etl", "graph_iter", "text_curation", "stream_ingest"]
EXPECTED = build.HERE / "expected.json"
# The sf0.1 tables described in TESTDATA.md; they are only read.
DATA = os.environ.get("PERFBENCH_DATA", "/root/testdata/sf0.1")
RUN_LIMIT_S = 170
JVM_OPTS = ["-Xmx3g", "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"] + [
    opt for p in ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
                  "java.net", "java.nio", "java.util", "java.util.concurrent",
                  "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
                  "sun.security.action", "sun.util.calendar"]
    for opt in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]


def run_jvm(classes, workload, seed, seconds, trace, action, deadline):
    """Runs the harness once; returns (raw record, spans)."""
    out_dir = build.BUILD / "out"
    out_dir.mkdir(parents=True, exist_ok=True)
    stem = f"{workload}-seed{seed}-trace{trace}" + ("" if action == "noop" else f"-{action}")
    raw_path, spans_path, log_path = (out_dir / f"{stem}.{x}" for x in ("raw.json", "spans.jsonl", "log"))
    for p in (raw_path, spans_path):
        p.unlink(missing_ok=True)
    tmp = build.BUILD / "tmp" / f"{stem}-{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    tmp.mkdir(parents=True)
    jars = build.spark_jars()
    cmd = (["java", f"-Djava.io.tmpdir={tmp}"] + JVM_OPTS
           + ["-cp", f"{classes}{os.pathsep}{jars}/*", "perfbench.Main",
              "--workload", workload, "--seed", str(seed), "--seconds", str(seconds),
              "--trace", str(trace), "--action", action, "--data", DATA,
              "--out", str(raw_path), "--spans", str(spans_path), "--tmp", str(tmp)])
    try:
        with open(log_path, "w") as log:
            r = subprocess.run(cmd, stdout=log, stderr=subprocess.STDOUT,
                               timeout=max(10, deadline - time.monotonic()))
    except subprocess.TimeoutExpired:
        raise SystemExit(f"perfbench: {workload} run exceeded its time limit; see {log_path}")
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    if r.returncode != 0 or not raw_path.exists():
        tail = log_path.read_text(errors="replace").splitlines()[-15:]
        print("\n".join(tail), file=sys.stderr)
        raise SystemExit(f"perfbench: harness exited {r.returncode}; see {log_path}")
    raw = json.loads(raw_path.read_text())
    spans = ([json.loads(line) for line in spans_path.read_text().splitlines() if line]
             if trace else [])
    return raw, spans


def record(classes, seconds):
    """Rewrites expected.json from two runs per workload (seeds 1 and 2)
    and names every output that differs between them."""
    expected, unstable = {}, []
    for w in WORKLOADS:
        prints = []
        for seed in (1, 2):
            raw, _ = run_jvm(classes, w, seed, seconds, 0, "noop", time.monotonic() + 600)
            for c in raw["checks"]:
                if c.get("error"):
                    raise SystemExit(f"perfbench: {c['name']} failed while recording: {c['error']}")
            prints.append({c["name"]: c["fingerprint"] for c in raw["checks"]})
        for name, fp in prints[0].items():
            expected[name] = fp
            if prints[1].get(name) != fp:
                unstable.append(name)
    EXPECTED.write_text(json.dumps(dict(sorted(expected.items())), indent=1) + "\n")
    print(json.dumps({"recorded": len(expected), "differs_between_runs": unstable}))


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=5)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--action", choices=["noop", "count"], default="noop",
                    help="count() instead of the noop sink; for the README's comparison only")
    ap.add_argument("--record", action="store_true", help="rewrite expected.json")
    a = ap.parse_args()
    started = time.monotonic()
    deadline = started + RUN_LIMIT_S
    classes = build.build()
    deadline = max(deadline, time.monotonic() + 120)
    if a.record:
        return record(classes, a.seconds)
    if not a.workload:
        ap.error("--workload is required")
    if not Path(DATA, "events.parquet").exists():
        raise SystemExit(f"perfbench: input tables not found under {DATA}")
    raw, spans = run_jvm(classes, a.workload, a.seed, a.seconds, a.trace, a.action, deadline)
    expected = json.loads(EXPECTED.read_text()) if EXPECTED.exists() else {}
    attempted, failed, problems = benchlib.outcome(raw, expected)
    if a.trace:
        values, split = benchlib.per_layer(raw, spans)
        units = dict(benchlib.PER_LAYER)
        summary = build.BUILD / "out" / f"{a.workload}-seed{a.seed}-trace1.layers.json"
        summary.write_text(json.dumps({"workload": a.workload, "seed": a.seed,
                                       "metrics": values, "passes": split}, indent=1))
    else:
        values = benchlib.end_to_end(raw)
        units = dict(benchlib.END_TO_END)
    lat = benchlib.op_latencies(raw)
    detail = {
        "workload": a.workload, "seed": a.seed, "trace": a.trace, "action": a.action,
        "nproc": raw["nproc"], "load_avg": [raw["load_before"], raw["load_after"]],
        "cpu_probe_s": raw["cpu_probe_s"], "setup_s": raw["setup_s"],
        "jvm_uptime_s": raw["uptime_s"], "run_wall_s": time.monotonic() - started,
        "pass_walls_s": benchlib.pass_walls(raw), "op_samples": len(lat),
        "op_p50_s": benchlib.percentile(lat, 0.5),
        "check_s": sum(c["check_s"] for c in raw["checks"]),
        "op_tail": benchlib.highest_tail(lat),
        "failed_frac": failed / attempted, "problems": problems,
    }
    for p in problems:
        print(f"perfbench: FAILED {p}", file=sys.stderr)
    print(json.dumps(detail))
    print(json.dumps({
        "correct": failed == 0, "attempted": attempted, "failed": failed,
        "metrics": {n: {"value": values[n], "unit": units[n]} for n in units},
    }))


if __name__ == "__main__":
    main()
