#!/usr/bin/env python3
"""The repo benchmark: one workload, one seed, one run.

    python3 perfbench/run.py --workload dashboard --seed 1 --seconds 10 --trace 0

Run it from the repo root. It builds the program from source (first run
only), makes the workload's inputs from the seed, times the session set-up
in fresh JVMs, runs one closed-loop client through the workload's
`SparkEntry.queries` (a cold pass, then warm passes for --seconds), checks
every output, and prints the metrics. The last stdout line is one JSON
object: end-to-end metrics with --trace 0, per-layer metrics with
--trace 1. README.md in this directory describes workloads and metrics.
"""
import argparse
import json
import os
import shutil
import subprocess
import sys
import threading
import time
from statistics import median

import build
import check
import inputs
import layers
from stats import permutation, tail_percentile

HERE = os.path.dirname(os.path.abspath(__file__))
XMX = "2g"            # fixed heap (-Xms = -Xmx): peak_rss_mb is read at it
SETUP_PROBES = 1      # extra fresh JVMs per run; setup_s is the median
                      # over them and the main JVM
SETTLE_S = 4          # unmeasured passes after the cold one (at least one)
MIN_PASSES = 3        # warm passes, whatever --seconds says
MIN_TRACED_PASSES = 2 # of each kind, untraced and traced, in a traced run
MAX_PASSES = 200
PROBE_TIMEOUT = 40
RUN_TIMEOUT = 140


def du(path):
    total = 0
    for d, _, files in os.walk(path):
        for f in files:
            try:
                total += os.lstat(os.path.join(d, f)).st_size
            except OSError:
                pass
    return total


def launch(cp, run_dir, args, timeout):
    """Runs the harness to completion; returns its set-up time: process
    start until the session-ready line."""
    os.makedirs(os.path.join(run_dir, "tmp"), exist_ok=True)
    log = os.path.join(run_dir, f"jvm-{len(os.listdir(run_dir))}.log")
    env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(run_dir, "local"))
    # -XX:-UsePerfData: no hsperfdata file in the system temp dir
    cmd = (["java", "-XX:-UsePerfData", f"-Xms{XMX}", f"-Xmx{XMX}",
            "-Dspark.ui.enabled=false",
            f"-Djava.io.tmpdir={os.path.join(run_dir, 'tmp')}"]
           + build.ADD_OPENS + ["-cp", cp, "graft.perfbench.Harness"] + args)
    with open(log, "w") as err:
        t0 = time.time()
        proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=err,
                                env=env, text=True)
        timer = threading.Timer(timeout, proc.kill)
        timer.start()
        ready = None
        try:
            for line in proc.stdout:
                if line.startswith("PERFBENCH_READY "):
                    ready = int(line.split()[1]) / 1e3
            code = proc.wait()
        finally:
            timer.cancel()
            if proc.poll() is None:
                proc.kill()
                proc.wait()
    if code != 0 or ready is None:
        with open(log) as f:
            sys.stderr.write(f.read()[-4000:])
        raise SystemExit(f"perfbench: harness {args[0]} failed (exit {code})")
    return ready - t0


def end_to_end(run, setups, rows_per_pass, failed, attempted):
    walls = {p["phase"]: [] for p in run["passes"]}
    for p in run["passes"]:
        walls[p["phase"]].append((p["end_ms"] - p["start_ms"]) / 1e3)
    warm = [e["build_s"] + e["action_s"] for e in run["execs"]
            if e["phase"] == "warm"]
    tail = tail_percentile(warm)
    if tail is None:
        raise SystemExit(f"perfbench: {len(warm)} warm samples; "
                         "the tail needs at least 11")
    warm_pass = median(walls["warm"])
    metrics = {
        "setup_s": (median(setups), "s"),
        "cold_pass_s": (walls["cold"][0], "s"),
        "warm_pass_s": (warm_pass, "s"),
        "rows_per_s": (rows_per_pass / warm_pass, "rows/s"),
        "query_p50_s": (median(warm), "s"),
        "query_tail_s": (tail[1], "s"),
        "peak_rss_mb": (run["vm_hwm_kb"] / 1024, "MB"),
    }
    notes = {
        "setup_s": f"median of {len(setups)} fresh JVMs",
        "cold_pass_s": "first pass in a fresh JVM",
        "warm_pass_s": f"median of {len(walls['warm'])} passes",
        "rows_per_s": f"{rows_per_pass} stated input rows per pass",
        "query_p50_s": f"n={len(warm)}",
        "query_tail_s": f"p{tail[0]}, n={len(warm)}",
        "peak_rss_mb": f"VmHWM at -Xmx{XMX}",
    }
    report = [f"{k} {v:.4f} {u} ({notes[k]})" for k, (v, u) in metrics.items()]
    report.append(f"failed_frac {failed / attempted:.4f} frac "
                  f"({failed} of {attempted} executions)")
    return {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}, report


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    root = os.getcwd()
    with open(os.path.join(HERE, "workloads.json")) as f:
        specs = json.load(f)
    if a.workload not in specs:
        raise SystemExit(f"perfbench: unknown workload {a.workload}")
    spec = specs[a.workload]
    out = os.path.join(root, ".bench_build")
    cp = build.build(root, out)
    data_dir = os.path.join(out, "inputs")
    table_rows = inputs.prepare(data_dir)

    run_id = f"{a.workload}-{a.seed}-t{a.trace}-{os.getpid()}"
    run_dir = os.path.join(out, "runs", run_id)
    check_dir = os.path.join(out, "checks", run_id)
    cores = len(os.sched_getaffinity(0))
    names = list(spec["queries"])
    plan = {
        "data": data_dir, "cpus": cores, "seconds": a.seconds,
        "settle_s": SETTLE_S,
        "min_passes": MIN_TRACED_PASSES if a.trace else MIN_PASSES,
        "trace": bool(a.trace),
        "run_dir": run_dir, "check_dir": check_dir,
        "out": os.path.join(out, "runs", run_id + ".json"),
        "passes": [permutation(names, a.seed, i) for i in range(MAX_PASSES)],
    }
    os.makedirs(run_dir)
    try:
        setups = [] if a.trace else [
            launch(cp, run_dir, ["probe", str(cores), run_dir], PROBE_TIMEOUT)
            for _ in range(SETUP_PROBES)]
        plan_path = os.path.join(out, "runs", run_id + ".plan.json")
        with open(plan_path, "w") as f:
            json.dump(plan, f)
        setups.append(launch(cp, run_dir, ["run", plan_path], RUN_TIMEOUT))
        with open(plan["out"]) as f:
            run = json.load(f)
        bad = check.oracle_failures(root, data_dir, check_dir, names)
        bytes_left = du(run_dir)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
        shutil.rmtree(check_dir, ignore_errors=True)
        for p in (plan["out"], os.path.join(out, "runs", run_id + ".plan.json")):
            if os.path.exists(p):
                os.remove(p)

    execs = run["execs"]
    failures = [e for e in execs
                if e["error"] or not e["matches_cold"] or e["query"] in bad]
    for name, why in sorted(bad.items()):
        print(f"perfbench: {name}: {why}", file=sys.stderr)
    for e in failures:
        if e["error"]:
            print(f"perfbench: {e['query']} pass {e['pass']}: {e['error']}",
                  file=sys.stderr)
    rows_per_pass = sum(table_rows[t] for t in spec["queries"].values())

    if a.trace:
        values = layers.layer_metrics(run, cores)
        values["run.bytes_left"] = bytes_left
        with open(os.path.join(root, "BENCHMARK.json")) as f:
            unit = {m["name"]: m["unit"] for m in json.load(f)["per_layer"]}
        metrics = {k: {"value": values[k], "unit": unit[k]} for k in unit}
        report = [f"{k} {v['value']:.6g} {v['unit']}" for k, v in metrics.items()]
    else:
        metrics, report = end_to_end(run, setups, rows_per_pass,
                                     len(failures), len(execs))
    report.append(f"machine {json.dumps(run['machine'])} bytes_left {bytes_left}")

    record = {"workload": a.workload, "seed": a.seed, "seconds": a.seconds,
              "trace": a.trace, "metrics": metrics, "machine": run["machine"],
              "setup_samples_s": setups, "bytes_left": bytes_left,
              "pass_walls_s": [[p["phase"], (p["end_ms"] - p["start_ms"]) / 1e3]
                               for p in run["passes"]],
              "query_warm_median_s": {
                  q: median([e["build_s"] + e["action_s"] for e in execs
                             if e["query"] == q and e["phase"] == "warm"] or [0])
                  for q in names},
              "oracle_failures": bad, "failed": len(failures),
              "attempted": len(execs), "queries": names}
    os.makedirs(os.path.join(out, "results"), exist_ok=True)
    with open(os.path.join(out, "results", run_id + ".json"), "w") as f:
        json.dump(record, f, indent=1)
    for line in report:
        print(line)
    print(json.dumps({"correct": not failures, "attempted": len(execs),
                      "failed": len(failures), "metrics": metrics}))


if __name__ == "__main__":
    main()
