#!/usr/bin/env python3
"""Benchmark of the relational-decomposition engine: the paper pipeline,
the entropy lattice and the graph query family, end to end and per layer.

Usage (from the root of a checkout):
  python3 perfbench/run.py --workload <name|all> --seed N --seconds S --trace 0|1

The first run in a checkout compiles the library and the harness with sbt
and makes the inputs (prep.py); later runs reuse both. Each workload runs
in its own JVM (graftbench.Main). The last line of stdout is one JSON
object, {"correct", "attempted", "failed", "metrics"}, holding the
end-to-end metrics of BENCHMARK.json with --trace 0 and the per-layer ones
with --trace 1. With --workload all, one such line per workload is printed
first, prefixed by its name. See perfbench/README.md.
"""
import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import threading
import time

sys.dont_write_bytecode = True

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ["paper_star", "entropy_lattice", "graph_family"]
CORES = 4
HEAP = "1g"
# the JVM must be done well inside the 180 s a run may take
JVM_DEADLINE_S = 150
# Seconds one pass of each workload took at the commit that introduced
# the benchmark (4 cores). A run makes round(--seconds / this) passes, at
# least one, and four when tracing (two traced between two untraced).
# The count depends on --seconds only, so the code under test cannot
# change how many passes a run averages over.
NOMINAL_PASS_S = {"paper_star": 8.0, "entropy_lattice": 4.5, "graph_family": 14.0}
# a traced pass's layer calls must cover this share of its wall time
MIN_LAYER_COVERAGE = 0.95


class RunFailed(Exception):
    pass


def fail(msg):
    sys.stderr.write(f"[perfbench] {msg}\n")
    sys.exit(2)


def median(xs):
    return statistics.median(xs) if xs else 0.0


def metric_specs():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    return spec["end_to_end"], spec["per_layer"]


def run_jvm(cmd, out_dir):
    """Run the JVM to its end; returns (exit code, seconds from launch to
    its READY line, or None if it never got there)."""
    err = open(os.path.join(out_dir, "jvm.stderr.log"), "w")
    t0 = time.monotonic()
    p = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=err, text=True,
                         cwd=ROOT, start_new_session=True)
    ready = {}

    def watch():
        for line in p.stdout:
            if line.strip() == "READY" and "t" not in ready:
                ready["t"] = time.monotonic()
    th = threading.Thread(target=watch, daemon=True)
    th.start()
    try:
        rc = p.wait(timeout=JVM_DEADLINE_S)
    except subprocess.TimeoutExpired:
        sys.stderr.write("[perfbench] JVM killed at the deadline\n")
        rc = None
    finally:
        # the JVM's session may hold leftover children that keep its stdout
        # open; none may outlive the run
        try:
            os.killpg(p.pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
        p.wait()
        th.join(timeout=10)
        err.close()
    return rc, (ready["t"] - t0 if "t" in ready else None)


def result_problems(workload, out_dir, inputs):
    """Check the outputs the JVM handed over (results/<name>.<digest>.json):
    graph results against the DuckDB oracle's, as the repository's oracle
    gate compares them; mined JDs by re-deriving their measures in
    DuckDB. Returns {(name, digest): [problems]}."""
    from prep import canon, jd_problems
    res = os.path.join(out_dir, "results")
    golden = None
    if workload == "graph_family":
        with open(os.path.join(inputs, "golden.json")) as fh:
            golden = json.load(fh)
    found = {}
    for f in sorted(os.listdir(res)) if os.path.isdir(res) else []:
        name, digest, _ = f.rsplit(".", 2)
        with open(os.path.join(res, f)) as fh:
            got = json.load(fh)
        if golden is not None:
            same = canon(got["columns"], got["rows"]) == golden[name]
            found[(name, digest)] = [] if same else [f"{name}: result differs from the DuckDB oracle"]
        else:
            found[(name, digest)] = jd_problems(os.path.join(inputs, "star.parquet"), got,
                                                os.path.join(out_dir, "tmp"))
    return found


def run_one(workload, seed, seconds, trace, build, cp, data):
    from prep import java_cmd, seeded_input
    out_dir = os.path.join(build, "runs", f"{workload}-{seed}-{trace}")
    shutil.rmtree(out_dir, ignore_errors=True)
    os.makedirs(os.path.join(out_dir, "tmp"))
    inputs = seeded_input(data, workload, seed, os.path.join(out_dir, "input"))
    passes = max(4 if trace else 1, round(seconds / NOMINAL_PASS_S[workload]))
    cmd = java_cmd(cp, ["--workload", workload, "--seed", str(seed),
                        "--passes", str(passes), "--trace", str(trace),
                        "--cores", str(CORES), "--data", inputs, "--out", out_dir],
                   heap=HEAP, tmp=os.path.join(out_dir, "tmp"))
    rc, setup_s = run_jvm(cmd, out_dir)
    passes = []
    pf = os.path.join(out_dir, "passes.jsonl")
    if os.path.exists(pf):
        with open(pf) as fh:
            passes = [json.loads(l) for l in fh if l.strip()]
    if setup_s is None or not passes:
        with open(os.path.join(out_dir, "jvm.stderr.log")) as fh:
            tail = fh.read()[-3000:]
        raise RunFailed(f"{workload}: no pass completed (exit {rc})\n{tail}")
    info = {}
    rf = os.path.join(out_dir, "run.json")
    if os.path.exists(rf):
        with open(rf) as fh:
            info = json.load(fh)
    attempted = sum(p["ops"] for p in passes)
    failed = sum(p["failed_ops"] for p in passes)
    if rc != 0 or not info:
        # the JVM died inside a pass: that pass's operations failed
        attempted += passes[0]["ops"]
        failed += passes[0]["ops"]
    checked = result_problems(workload, out_dir, inputs)
    for p in passes:
        for name, d in p["digests"].items():
            p["problems"] += checked.get((name, d), [f"{name}: result file missing"])
    for p in passes:
        for msg in p["problems"]:
            sys.stderr.write(f"[perfbench] {workload} pass {p['pass']}: {msg}\n")
    correct = [not p["problems"] for p in passes]
    good = [p for p in passes if p["failed_ops"] == 0]
    plain = [p for p in good if not p["traced"]]
    traced = [p for p in good if p["traced"]]
    values = {
        "setup_s": setup_s,
        "pass_s": median([p["wall_s"] for p in plain]),
        "task_s": median([p["task_s"] for p in plain]),
        "shuffle_mb": median([p["shuffle_mb"] for p in plain]),
        "peak_rss_mb": info.get("peak_rss_mb", 0.0),
        "correct_frac": sum(correct) / len(passes),
    }
    values.update({k: median([p["layers"][k] for p in traced if k in p["layers"]])
                   for k in {k for p in traced for k in p["layers"]}})
    values["fail_frac"] = failed / attempted
    values["passes"] = float(len(passes))
    if traced and plain:
        coverage = [sum(v for k, v in p["layers"].items()
                        if k.count(".") == 1 and k.endswith(".wall_s")) / p["wall_s"]
                    for p in traced]
        if min(coverage) < MIN_LAYER_COVERAGE:
            sys.stderr.write(f"[perfbench] {workload}: layer calls cover only "
                             f"{min(coverage):.3f} of a traced pass\n")
        values["trace.layer_coverage"] = median(coverage)
        values["trace.overhead_frac"] = (median([p["wall_s"] for p in traced]) /
                                         median([p["wall_s"] for p in plain]) - 1)
    print(f"[perfbench] {workload}: {len(passes)} passes ({len(traced)} traced), "
          f"cores={info.get('cores')} driver_memory_mb={info.get('driver_memory_mb')} "
          f"shuffle_partitions={info.get('shuffle_partitions')} "
          f"spark={info.get('spark_version')} warmup_s={info.get('warmup_s')}", flush=True)
    e2e_spec, layer_spec = metric_specs()
    specs = layer_spec if trace else e2e_spec
    return {"correct": all(correct) and failed == 0, "attempted": attempted,
            "failed": failed,
            "metrics": {s["name"]: {"value": values.get(s["name"], 0.0), "unit": s["unit"]}
                        for s in specs}}


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()
    names = WORKLOADS if a.workload == "all" else [a.workload]
    if any(n not in WORKLOADS for n in names):
        fail(f"unknown workload {a.workload}; one of {WORKLOADS} or all")
    for f in ["build.sbt", os.path.join("src", "main", "scala", "graft"), "BENCHMARK.json"]:
        if not os.path.exists(os.path.join(ROOT, f)):
            fail(f"{f} not found: run from the root of a checkout of the library")
    if os.environ.get("SPARK_GRAFT_CONF", "").strip():
        fail("SPARK_GRAFT_CONF is set; it silently changes plans, so the benchmark refuses to run")
    if (os.cpu_count() or 1) < CORES:
        fail(f"needs {CORES} cores, found {os.cpu_count()}")
    sys.path.insert(0, HERE)
    import prep
    build = os.path.join(ROOT, os.environ.get("CARGO_TARGET_DIR", ".bench_build"), "perfbench")
    cp, stamp = prep.ensure_build(build)
    data = prep.ensure_data(build, cp, stamp)
    results = {}
    for n in names:
        try:
            results[n] = run_one(n, a.seed, a.seconds, a.trace, build, cp, data)
        except RunFailed as e:
            if len(names) == 1:
                sys.stderr.write(f"[perfbench] {e}\n")
                sys.exit(1)
            # one workload's crash does not stop the others
            results[n] = {"correct": False, "attempted": 1, "failed": 1, "metrics": {}}
        if len(names) > 1:
            print(f"{n}: {json.dumps(results[n])}", flush=True)
    print(json.dumps(results[names[0]] if len(names) == 1 else results), flush=True)


if __name__ == "__main__":
    main()
