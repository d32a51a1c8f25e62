#!/usr/bin/env python3
"""The repo benchmark: the Citibike pipeline and a registered-query mix.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. It builds the harness package
(`harness/build.py` compiles it together with `src/main/scala`),
generates the workload's inputs from `--seed`, runs
them in one JVM with a `local[<cores>]` Spark session, checks every
operation against the expected outputs and prints one JSON line last:
`{"correct", "attempted", "failed", "metrics"}`. With `--trace 0` the
metrics are the end-to-end ones, with `--trace 1` the per-layer ones of
one extra traced unit. Build output and scratch files go to
`$CARGO_TARGET_DIR` (default `.bench_build`).
"""

import argparse
import json
import math
import os
import random
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import archives  # noqa: E402
import metrics  # noqa: E402
import tables  # noqa: E402
from harness import build  # noqa: E402

ROOT = os.path.dirname(HERE)
RUN_LIMIT_S = 170
SETUP_REPEATS = 3
# pipeline workload: (archives, number of `run`s in its unit)
PIPELINES = {"pipeline-backfill": (archives.BACKFILL, 1),
             "pipeline-monthly": (archives.MONTHLY, 3)}
ADD_OPENS = ["--add-opens=java.base/%s=ALL-UNNAMED" % p for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
    "java.net", "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar")]


def fail(msg):
    print("perfbench: " + msg, file=sys.stderr)
    sys.exit(2)


def timed_median(f):
    """Median wall time of SETUP_REPEATS calls of f, and its last result."""
    times, result = [], None
    for _ in range(SETUP_REPEATS):
        t0 = time.perf_counter()
        result = f()
        times.append(time.perf_counter() - t0)
    return statistics.median(times), result


def setup_inputs(workload, seed, work):
    """Generate the workload's inputs; (median seconds, harness args, info)."""
    inputs = os.path.join(work, "inputs")
    if workload in PIPELINES:
        specs, runs = PIPELINES[workload]
        gen_s, ledger = timed_median(
            lambda: archives.generate(inputs, seed, specs))
        schedule = ";".join(",".join(a["name"] for a in ledger["archives"]
                                     if a["arrives"] == k) for k in range(runs))
        return gen_s, {"inputs": inputs, "arrivals": schedule}, ledger
    order = list(metrics.QUERIES)
    random.Random(seed).shuffle(order)
    gen_s, rows = timed_median(lambda: tables.generate(inputs))
    return gen_s, {"inputs": inputs, "order": ",".join(order)}, {"rows": rows}


def run_harness(classes, jars_dir, work, args, deadline):
    out = os.path.join(work, "out.json")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = (["java"] + ADD_OPENS + [
        "-Xms1536m", "-Xmx1536m", "-XX:-UsePerfData", "-Duser.timezone=UTC",
        "-Djava.io.tmpdir=" + tmp,
        "-cp", classes + ":" + os.path.join(jars_dir, "*"),
        "perfbench.Harness", "work=" + work, "out=" + out]
        + ["%s=%s" % kv for kv in sorted(args.items())])
    with open(os.path.join(work, "harness.log"), "w") as log:
        try:
            rc = subprocess.run(cmd, stdout=log, stderr=subprocess.STDOUT,
                                timeout=max(deadline - time.time(), 1)).returncode
        except subprocess.TimeoutExpired:
            fail("harness exceeded the run limit")
    if rc != 0 or not os.path.exists(out):
        with open(os.path.join(work, "harness.log")) as log:
            sys.stderr.write(log.read()[-4000:])
        fail("harness exited with %d" % rc)
    with open(out) as f:
        return json.load(f)


# ------------------------------------------------------------------ checks

def pipeline_expected(ledger, arrived):
    """Warehouse state after loading the archives in `arrived` (names)."""
    imported, linegraph, heatmap, manifest = {}, {}, {}, {}
    for a in ledger["archives"]:
        if a["name"] not in arrived:
            continue
        for key, p in a["expected"]["periods"].items():
            imported[key] = imported.get(key, 0) + p["trips"]
            lg = linegraph.setdefault(key, [0, 0])
            lg[0] += p["subscriber"]
            lg[1] += p["customer"]
        for key, n in a["expected"]["hours"].items():
            heatmap[key] = heatmap.get(key, 0) + n
        year = manifest.get(a["year"])
        if a["month"] is None:
            manifest[a["year"]] = [a["year"], None, True]
        elif year is None or (year[1] is not None and year[1] < a["month"]):
            manifest[a["year"]] = [a["year"], a["month"], False]
    return {"imported": imported, "linegraph": linegraph, "heatmap": heatmap,
            "manifest": [manifest[y] for y in sorted(manifest)]}


def check_pipeline(ledger, unit):
    """Per op: None when the warehouse matches the ledger, else why not."""
    verdicts = []
    for i, op in enumerate(unit):
        arrived = {a["name"] for a in ledger["archives"] if a["arrives"] <= i}
        if op["error"]:
            verdicts.append("error: " + op["error"])
            continue
        want = pipeline_expected(ledger, arrived)
        bad = [k for k in want if op["obs"].get(k) != want[k]]
        verdicts.append("ledger mismatch: " + ",".join(bad) if bad else None)
    return verdicts


def check_queries(unit, expected):
    verdicts = []
    for op in unit:
        if op["error"]:
            verdicts.append("error: " + op["error"])
        elif op["obs"]["fingerprint"] != expected.get(op["name"]):
            verdicts.append("fingerprint %s != recorded %s" % (
                op["obs"]["fingerprint"], expected.get(op["name"])))
        else:
            verdicts.append(None)
    return verdicts


def geomean(xs):
    return math.exp(sum(math.log(max(x, 1e-9)) for x in xs) / len(xs))


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=metrics.WORKLOADS + metrics.UNLISTED_WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    out_root = os.path.abspath(os.environ.get(
        "CARGO_TARGET_DIR", os.path.join(ROOT, ".bench_build")))
    out_root = os.path.join(out_root, "perfbench")
    os.makedirs(out_root, exist_ok=True)
    try:
        jars_dir = build.spark_jars()
        classes = build.build(out_root, jars_dir)
    except build.BuildError as e:
        fail(str(e))

    t_start = time.time()
    deadline = t_start + RUN_LIMIT_S
    work = os.path.join(out_root, "run-%d" % os.getpid())
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        gen_s, args, info = setup_inputs(a.workload, a.seed, work)
        args.update(workload=a.workload, seconds=a.seconds, trace=a.trace,
                    cores=len(os.sched_getaffinity(0)))
        res = run_harness(classes, jars_dir, work, args, deadline)
    finally:
        shutil.rmtree(work, ignore_errors=True)

    units = res["units"] + (
        [res["reference_ops"], res["traced_ops"]] if a.trace else [])
    if a.workload in PIPELINES:
        verdicts = [check_pipeline(info, u) for u in units]
        rows_per_unit = sum(x["rows"] for x in info["archives"])
    else:
        with open(os.path.join(HERE, "fingerprints.json")) as f:
            expected = json.load(f)
        verdicts = [check_queries(u, expected) for u in units]
        rows_per_unit = info["rows"]
    for k, (u, vs) in enumerate(zip(units, verdicts)):
        for op, v in zip(u, vs):
            print("%s %-34s %8.3f s  %s" % (
                ("unit %d" % k, "reference", "traced")[max(k - len(res["units"]) + 1, 0)],
                op["name"], op["seconds"], "FAILED " + v[:300] if v else "ok"))
    attempted = sum(len(v) for v in verdicts)
    failed = sum(1 for vs in verdicts for v in vs if v)
    correct = failed == 0 and res.get("traced_equal", True)
    if not res.get("traced_equal", True):
        print("FAILED traced unit: outputs differ from the untraced unit")

    # each operation at its best over the run's units: a stall of the host,
    # or the JIT still compiling, hits one unit, not the result
    def best(key):
        return [min(xs) for xs in zip(*([op[key] for op in u]
                                        for u in res["units"]))]
    wall = sum(best("seconds"))
    if a.trace:
        values = metrics.per_layer_values(res["trace"])
        values["ops.failed_frac"] = failed / attempted
    else:
        values = {
            "setup_s": gen_s + res["ready_s"],
            "wall_s": wall,
            "op_geomean_s": geomean(best("seconds")),
            "input_rows_per_s": rows_per_unit / wall,
            "peak_rss_mb": res["peak_rss_mb"],
        }
    catalog = metrics.PER_LAYER if a.trace else metrics.END_TO_END
    print("%s: %d unit(s), correct=%s, %d/%d operations failed" % (
        a.workload, len(res["units"]), correct, failed, attempted))
    print(json.dumps({
        "correct": bool(correct), "attempted": attempted, "failed": failed,
        "metrics": {m["name"]: {"value": values[m["name"]], "unit": m["unit"]}
                    for m in catalog}}))


if __name__ == "__main__":
    main()
