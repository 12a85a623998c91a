#!/usr/bin/env python3
"""Run one benchmark workload against the graft engine and print its result.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. The first run builds the harness and the
engine from source with sbt (perfbench/build.sbt); later runs launch the
JVM directly. Inputs are generated from --seed (cached per seed and
parameters under perfbench/.cache). --trace 0 prints the end-to-end
metrics, --trace 1 the per-layer metrics of a traced run. The last line of
standard output is one JSON object: correct, attempted, failed, metrics.
Options for development: --size tiny (smoke-test inputs), --timeout S (JVM
time limit).
"""
import argparse
import glob
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import checks  # noqa: E402
import gen  # noqa: E402

WORKLOADS = ("reco_batch", "dashboard_stream", "curation_corpus", "rank_past_bound")
CLASSES = os.path.join(HERE, "target", "scala-2.13", "classes")
STAMP = os.path.join(HERE, "target", "perfbench.stamp")
# the JVM options the engine's own build passes to forked runs
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]
HEAP = "2g"
YOUNG = "512m"


def fail(msg):
    print(f"[perfbench] {msg}", file=sys.stderr)
    sys.exit(2)


def spark_jars():
    """The Spark distribution's jar directory: $SPARK_HOME/jars, else the
    directory the engine's build.sbt names as its unmanagedBase."""
    home = os.environ.get("SPARK_HOME")
    if home and os.path.isdir(os.path.join(home, "jars")):
        return os.path.join(home, "jars")
    try:
        import re
        with open(os.path.join(ROOT, "build.sbt")) as f:
            m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
        if m and os.path.isdir(m.group(1)):
            return m.group(1)
    except OSError:
        pass
    fail("no Spark jars: set SPARK_HOME")


def newest_source_mtime():
    paths = [os.path.join(HERE, "build.sbt")]
    for base in (os.path.join(ROOT, "src", "main", "scala"),
                 os.path.join(HERE, "src", "main", "scala")):
        paths += glob.glob(os.path.join(base, "**", "*.scala"), recursive=True)
    return max(os.path.getmtime(p) for p in paths)


def build(jars):
    engine = os.path.join(ROOT, "src", "main", "scala", "graft")
    if not os.path.isdir(engine):
        fail(f"engine sources not found under {os.path.relpath(engine)}")
    if os.path.exists(STAMP) and os.path.getmtime(STAMP) >= newest_source_mtime():
        return
    sbt = shutil.which("sbt")
    if sbt is None:
        fail("sbt not found on PATH")
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    t0 = time.time()
    r = subprocess.run([sbt, "--batch", "-Dsbt.log.noformat=true",
                        f"-Dgraft.jars={jars}", "compile"],
                       cwd=HERE, env=env, stdout=subprocess.PIPE,
                       stderr=subprocess.STDOUT, text=True, timeout=850)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-4000:])
        fail("build failed")
    os.makedirs(os.path.dirname(STAMP), exist_ok=True)
    with open(STAMP, "w") as f:
        f.write(f"{time.time() - t0:.1f}\n")
    print(f"[perfbench] built in {time.time() - t0:.1f} s", file=sys.stderr)


def run_jvm(args, jars, data, params, work):
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") \
        if os.environ.get("JAVA_HOME") else shutil.which("java")
    if not java:
        fail("java not found")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # A fixed heap and young generation, so peak RSS repeats run to run.
    # C1 only: in a one-minute JVM that keeps generating classes, C2's
    # background compiles took about half the process CPU, on the cores the
    # executors use, while its code was rarely reached.
    cmd = [java, f"-Xms{HEAP}", f"-Xmx{HEAP}", f"-Xmn{YOUNG}", "-XX:+UseParallelGC",
           "-XX:TieredStopAtLevel=1",
           "-Duser.timezone=UTC", f"-Djava.io.tmpdir={tmp}", "-Dspark.ui.enabled=false"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", CLASSES + os.pathsep + os.path.join(jars, "*"),
            "graft.perfbench.Main",
            "--workload", args.workload, "--data", data, "--work", work,
            "--seconds", str(args.seconds), "--trace", str(args.trace),
            "--params", ",".join(f"{k}={v}" for k, v in params.items())]
    log = os.path.join(work, "jvm.log")
    with open(log, "w") as lf:
        try:
            r = subprocess.run(cmd, cwd=work, stdout=lf, stderr=subprocess.STDOUT,
                               timeout=args.timeout)
            code = r.returncode
        except subprocess.TimeoutExpired:
            code = "timeout"
    res = os.path.join(work, "result.json")
    if code != 0 or not os.path.exists(res):
        with open(log) as lf:
            sys.stderr.write("".join(lf.readlines()[-60:]))
        fail(f"benchmark JVM failed ({code})")
    with open(res) as f:
        return json.load(f)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", choices=("full", "tiny"), default="full")
    ap.add_argument("--timeout", type=float, default=170.0,
                    help="seconds the benchmark JVM may take")
    args = ap.parse_args()

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    jars = spark_jars()
    build(jars)

    params = gen.params_for(args.workload, args.size)
    data = gen.ensure(os.path.join(HERE, ".cache"), args.workload, args.seed, params)
    work = os.path.join(HERE, ".work", f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        res = run_jvm(args, jars, data, params, work)
        problems, checked = checks.check(args.workload, data, work, res)
    finally:
        shutil.rmtree(work, ignore_errors=True)

    report(args, spec, res, problems, checked)


def report(args, spec, res, problems, checked):
    attempted = int(res["attempted"])
    values = {k: res[k] for k in ("setup_s", "job_s", "job_cpu_s", "peak_rss_mb")}
    fin = res.get("finish", {})
    layers = dict(res.get("layers", {}))
    human = {}
    if args.workload == "dashboard_stream":
        measured = [it for it in res["iterations"] if it["phase"] == "measure"]
        ms = [x for it in measured for x in it["samples"].get("batch_ms", [])]
        ev = [it["extra"]["input_rows"] + it["extra"]["input_rows_sketch"] for it in measured]
        human = {
            "stream_events_per_s": (sum(ev) / len(ev)) / res["job_s"],
            "batch_p50_ms": checks.pct(ms, 0.50), "batch_p95_ms": checks.pct(ms, 0.95),
        }
        if args.trace:  # the fixed-rate phase runs in the traced run only
            human.update({k: fin[k] for k in ("freshness_p50_ms", "freshness_p95_ms")})
            human["offered_events_per_s"] = fin["rate_events_per_s"]
            layers.update({
                "streaming.freshness_p50_ms": fin["freshness_p50_ms"],
                "streaming.freshness_p95_ms": fin["freshness_p95_ms"],
                "sources.backlog_files_end": fin["backlog_files_end"],
            })
    layers.update(checked)
    units = {m["name"]: m["unit"] for m in spec["end_to_end"] + spec["per_layer"]}
    human_units = {"stream_events_per_s": "events/s", "batch_p50_ms": "ms",
                   "batch_p95_ms": "ms", "freshness_p50_ms": "ms",
                   "freshness_p95_ms": "ms", "offered_events_per_s": "events/s"}

    # Every metric of BENCHMARK.json comes from the run, never from a
    # default. A layer the workload does not call reads 0 on the metrics of
    # its own (it has no work to measure); any other metric the run did not
    # produce is a failure.
    if args.trace:
        names, produced = [m["name"] for m in spec["per_layer"]], layers
    else:
        names, produced = [m["name"] for m in spec["end_to_end"]], values
    metrics = {}
    for n in names:
        layer = n.split(".", 1)[0]
        if n in produced:
            metrics[n] = {"value": float(produced[n]), "unit": units[n]}
        elif args.trace and layers.get(f"{layer}.calls", -1) == 0:
            metrics[n] = {"value": 0.0, "unit": units[n]}
        else:
            problems.append(f"metric {n} was not produced")
    failed = int(res["failed"]) + len(problems)

    for p in problems:
        print(f"[check] FAIL {p}")
    print(f"[perfbench] workload={args.workload} seed={args.seed} trace={args.trace} "
          f"cores={res['cores']} iterations={len(res['iterations'])}")
    print(f"[perfbench] host {json.dumps(res['host'])}")
    for k, v in list(values.items()) + list(human.items()):
        print(f"[metric] {k} = {v:.6g} {units.get(k, human_units.get(k, ''))}")
    print(f"[metric] fail_ratio = {failed / max(attempted, 1):.6g} ratio "
          f"({failed} / {attempted})")
    if args.trace:
        for k in sorted(layers):
            print(f"[layer] {k} = {layers[k]:.6g}")
        for k, v in sorted(res.get("spans_s", {}).items()):
            print(f"[span] {k} = {v:.4f} s")
        print(f"[perfbench] tracing overhead {layers['bench.tracing_overhead_s']:.4f} s "
              f"(traced job_s {layers['bench.traced_job_s']:.4f} - untraced "
              f"{res['job_s']:.4f})")
    print(json.dumps({"correct": not problems and failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))


if __name__ == "__main__":
    main()
