#!/usr/bin/env python3
"""Smoke test of the benchmark: every workload once, traced, at tiny size.

    python3 perfbench/smoke_test.py [workload ...]

Run from the repository root. For each workload (all four by default) it
runs `run.py --size tiny --trace 1` and asserts that
- the run is correct, with no failed operation (a metric of BENCHMARK.json
  the run did not produce counts as a failed one);
- every end-to-end metric of BENCHMARK.json is printed as a
  `[metric] <name> = <value> <unit>` line with its unit;
- the final JSON line carries every per-layer metric with its unit;
- the metrics the workload exercises (NONZERO below) read more than 0.
Exits non-zero if any workload fails. Takes about ten minutes.
"""
import json
import os
import re
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
ALL = ("reco_batch", "rank_past_bound", "curation_corpus", "dashboard_stream")

# Per workload, the metrics that must read more than 0: the generic
# counters of the layers it calls and the layer-specific metrics it
# measures. A name a run prints only as a `[layer]` line counts too.
WORK = ("calls", "self_s", "spark_jobs", "tasks", "cpu_s", "core_util", "scan_rows")
STREAM = ("streaming.batches", "streaming.state_rows", "streaming.state_mb",
          "streaming.batch_p50_ms", "streaming.batch_p95_ms", "streaming.events_per_s",
          "sources.parse_keep_ratio", "sinks.bytes_written_mb", "sinks.write_amp",
          "sinks.store_mb_per_input_mb")
NONZERO = {w: ["bench.traced_job_s", "bench.codegen_compiles"] for w in ALL}
for w, names in {
    "reco_batch": [f"{l}.{m}" for l in ("jobs", "sinks", "streaming", "sources") for m in WORK]
    + ["core.calls", "core.self_s", "jobs.shuffle_write_mb", "jobs.shuffle_read_mb",
       "jobs.peak_exec_mb", "streaming.shuffle_write_mb"] + list(STREAM),
    "rank_past_bound": [f"{l}.{m}" for l in ("ops", "llm") for m in WORK]
    + ["core.calls", "core.self_s", "ops.shuffle_write_mb", "ops.shuffle_read_mb",
       "ops.peak_exec_mb", "ops.scan_amplification"],
    "curation_corpus": [f"{l}.{m}" for l in ("jobs", "llm") for m in WORK]
    + ["core.calls", "ops.calls", "ops.spark_jobs"],
    "dashboard_stream": [f"streaming.{m}" for m in WORK] + list(STREAM)
    + ["sources.calls", "streaming.late_dropped_rows", "streaming.freshness_p50_ms",
       "streaming.freshness_p95_ms"],
}.items():
    NONZERO[w] += names


def smoke(workload, spec):
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", "7", "--seconds", "0", "--trace", "1", "--size", "tiny",
           "--timeout", "400"]
    r = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.PIPE,
                       text=True, timeout=600)
    lines = r.stdout.strip().splitlines()
    problems = []
    if r.returncode != 0 or not lines:
        return [f"exit {r.returncode}: {r.stderr[-2000:]}"]
    result = json.loads(lines[-1])
    if result["correct"] is not True or result["failed"] != 0:
        problems.append(f"correct={result['correct']} failed={result['failed']}: "
                        + "; ".join(ln for ln in lines if ln.startswith("[check]")))
    if result["attempted"] < 1:
        problems.append("attempted < 1")
    for m in spec["end_to_end"]:
        pat = rf"^\[metric\] {re.escape(m['name'])} = \S+ {re.escape(m['unit'])}$"
        if not any(re.match(pat, ln) for ln in lines):
            problems.append(f"end-to-end metric {m['name']} ({m['unit']}) not printed")
    for m in spec["per_layer"]:
        got = result["metrics"].get(m["name"])
        if got is None or got.get("unit") != m["unit"] or \
                not isinstance(got.get("value"), (int, float)):
            problems.append(f"per-layer metric {m['name']} ({m['unit']}) missing: {got}")
    printed = {k: float(v) for k, v in re.findall(r"^\[layer\] (\S+) = (\S+)$",
                                                  r.stdout, re.M)}
    for n in NONZERO[workload]:
        if not printed.get(n, 0.0) > 0:
            problems.append(f"{n} reads {printed.get(n)}, expected > 0")
    return problems


def main():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    failed = False
    for w in sys.argv[1:] or ALL:
        problems = smoke(w, spec)
        print(f"{'ok  ' if not problems else 'FAIL'} {w}")
        for p in problems:
            print(f"     {p}")
        failed |= bool(problems)
    sys.exit(1 if failed else 0)


if __name__ == "__main__":
    main()
