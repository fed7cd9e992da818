#!/usr/bin/env python3
"""Benchmark entry point: one seeded workload, end-to-end or traced.

    python3 perfbench/run.py --workload batch-dupheavy --seed 1 --seconds 12 --trace 0

Run from the root of a checkout. The last line of standard output is one
JSON object ``{"correct", "attempted", "failed", "metrics"}``: with
``--trace 0`` the metrics are the end-to-end ones of BENCHMARK.json, with
``--trace 1`` the per-layer ones. An earlier ``{"detail": ...}`` line
carries the input descriptors and host facts; the traced run also writes
``.perfbench/layers/<workload>-seed<n>.json`` (per-query and per-batch
split, spans). See perfbench/README.md for every metric's definition.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench")
#: The JVM heap, pinned: the engine's 8g default let the JVM grow far
#: past what the measured inputs need on a shared host.
HEAP = "1g"

WORKLOADS = ("batch-dupheavy", "batch-unique", "stream-classify")


def _host_facts() -> dict:
    try:
        sha = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                             text=True, timeout=10).stdout.strip()
    except (OSError, subprocess.SubprocessError):
        sha = ""
    src = hashlib.sha256()
    pkg = os.path.join(ROOT, "news_categorization_big_data_spark")
    for base, dirs, files in sorted(os.walk(pkg)):
        dirs.sort()
        for name in sorted(f for f in files if f.endswith(".py")):
            with open(os.path.join(base, name), "rb") as f:
                src.update(name.encode() + f.read())
    return {"nproc": len(os.sched_getaffinity(0)), "loadavg": os.getloadavg(),
            "git_sha": sha or None, "source_sha": src.hexdigest()[:16], "heap": HEAP}


def _cpu_ticks() -> list[int]:
    """Host-wide user..steal jiffies from /proc/stat (steal = time the VM waited)."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:9]]


def _configure(run_dir: str, trace: bool) -> None:
    """Environment the engine's session factory reads at JVM launch."""
    # Keep every open-loop batch's progress (the default keeps the last 100).
    confs = ["spark.ui.showConsoleProgress=false", "spark.sql.streaming.numRecentProgressUpdates=100000"]
    if trace:
        os.makedirs(os.path.join(run_dir, "events"))
        confs += ["spark.eventLog.enabled=true",
                  f"spark.eventLog.dir=file://{run_dir}/events",
                  # Spark 4 defaults to zstd, which this Python cannot read.
                  "spark.eventLog.compress=false"]
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(f"--conf {c}" for c in confs) + " pyspark-shell"
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = HEAP
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "local")
    os.environ.pop("SPARK_GRAFT_MASTER", None)


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    sys.path.insert(0, ROOT)
    try:
        import news_categorization_big_data_spark  # noqa: F401
    except ImportError as exc:
        print(f"perfbench: the engine package is not importable from {ROOT}: {exc}", file=sys.stderr)
        return 2
    sys.path.insert(0, HERE)
    import workloads

    run_dir = os.path.join(WORK, f"run-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    _configure(run_dir, bool(args.trace))
    facts = _host_facts()
    ticks0 = _cpu_ticks()
    try:
        res = workloads.run(args.workload, args.seed, args.seconds, bool(args.trace),
                            os.path.join(WORK, "inputs"), run_dir)
    finally:
        workloads.shutdown_jvm()
        shutil.rmtree(run_dir, ignore_errors=True)

    ticks = [b - a for a, b in zip(ticks0, _cpu_ticks())]
    facts["host_busy_share"] = round(1 - (ticks[3] + ticks[4]) / max(1, sum(ticks)), 3)
    facts["host_steal_share"] = round(ticks[7] / max(1, sum(ticks)), 3)
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)["per_layer" if args.trace else "end_to_end"]
    metrics = {m["name"]: {"value": res.metrics[m["name"]], "unit": m["unit"]} for m in spec}
    detail = {"workload": args.workload, "seed": args.seed, "trace": args.trace, **facts,
              "inputs": res.inputs, "failures": res.tally.reasons}
    os.makedirs(os.path.join(WORK, "results"), exist_ok=True)
    with open(os.path.join(WORK, "results", f"{args.workload}-seed{args.seed}-trace{args.trace}.json"), "w") as f:
        json.dump(res.metrics, f)
    if args.trace:
        # Tracing overhead: this traced warm pass minus the untraced one of
        # the same workload and seed, when that run was made in this checkout.
        untraced = os.path.join(WORK, "results", f"{args.workload}-seed{args.seed}-trace0.json")
        if os.path.exists(untraced):
            with open(untraced) as f:
                res.layers["trace.overhead_s"] = res.metrics["warm_pass_s"] - json.load(f)["warm_pass_s"]
        os.makedirs(os.path.join(WORK, "layers"), exist_ok=True)
        path = os.path.join(WORK, "layers", f"{args.workload}-seed{args.seed}.json")
        with open(path, "w") as f:
            json.dump({**detail, "metrics": res.metrics, "layers": res.layers, "spans": res.spans}, f, indent=1)
        detail["layers_file"] = os.path.relpath(path, ROOT)
    print(json.dumps({"detail": detail}))
    print(json.dumps({"correct": res.tally.failed == 0, "attempted": res.tally.attempted,
                      "failed": res.tally.failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
