#!/usr/bin/env python3
"""Validator benchmark: one workload, one seed, one run.

    python3 perfbench/run.py --workload batch --seed 1 --seconds 10 --trace 0

Run from the root of a source tree. Stages a seeded corpus (untimed), starts
a session sized to the host it runs on, measures the workload for ``--seconds``,
checks every result against the generator's ground truth and prints the
metrics, the last line being one JSON object. ``--trace 1`` runs the traced
pass instead and prints the per-layer ledger. Exits non-zero when any
operation failed or when the validator package is not in the tree.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time
from statistics import median

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PACKAGE = "spanner_data_validator_spark"
WORKLOADS = ("batch", "stream_drain", "stream_rate")
E2E = {
    "setup_s": "s",
    "turns_per_s": "1/s",
    "freshness_p50_s": "s",
    "freshness_p99_s": "s",
    "retained_mb": "MB",
}


def parse(argv):
    from perfbench import workloads

    ap = argparse.ArgumentParser(description=__doc__,
                                 formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--n-convs", type=int, default=None,
                    help="corpus size in conversations (default: the workload's own; "
                    "the tests use a tiny one)")
    return ap.parse_args(argv)


def e2e_metrics(run) -> dict:
    from perfbench import workloads

    return {
        "setup_s": run.setup_s,
        "turns_per_s": run.turns_per_s,
        "freshness_p50_s": workloads.percentile(run.freshness, 0.50) if run.freshness else None,
        "freshness_p99_s": workloads.percentile(run.freshness, 0.99) if run.freshness else None,
        "retained_mb": median(run.retained) / (1 << 20) if run.retained else None,
    }


def measure(args, work: str, facts: dict):
    """Stage, set up and measure one untraced run."""
    from perfbench import box, workloads

    warm_s = workloads.warm_seconds(args.workload, args.seconds)
    c, warm = workloads.stage_inputs(args.workload, args.n_convs, args.seed,
                                     warm_s + args.seconds, work, facts)
    run = workloads.Run(facts=facts)
    with box.RssSampler(os.getpid()) as rss:
        kind = "batch" if args.workload == "batch" else "stream"
        spark = workloads.setup(run, work, warm)
        facts.update(workloads.session_facts(spark, c))
        if args.workload == "stream_rate":
            workloads.measure_rate(spark, run, c, work, warm_s)
        else:
            workloads.warm_up(spark, run, c, work, warm_s, kind)
            if kind == "batch":
                workloads.measure_batch(spark, run, c, work, args.seconds)
            else:
                workloads.measure_drain(spark, run, c, work, args.seconds)
    facts["peak_rss_bytes"] = rss.peak
    return run


def stop_jvm() -> None:
    """Stop the active session, the JVM it runs in and the JVM's Python
    workers, and wait for each to end."""
    from pyspark import SparkContext

    from perfbench import box

    started = [i for i in map(box.identity, box.descendants(os.getpid())) if i]
    gateway = SparkContext._gateway
    if SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()
    if gateway is not None:
        gateway.shutdown()
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            proc.stdin.close()  # the JVM exits when its stdin closes
            try:
                proc.wait(timeout=30)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait(timeout=30)
    # the Python workers' daemon exits once the JVM is gone, possibly after
    # being re-parented away from this process
    deadline = time.time() + 30
    while any(box.alive(p) for p in started) and time.time() < deadline:
        time.sleep(0.1)
    for ident in started:
        if box.alive(ident):
            os.kill(ident[0], signal.SIGKILL)


def report(args, run, metrics: dict, units: dict, moves: dict | None = None) -> dict:
    facts = run.facts
    print(f"workload {args.workload} seed {args.seed} seconds {args.seconds:g} "
          f"trace {args.trace}")
    for k in ("nproc", "mem_total_bytes", "heap", "master", "state_store",
              "join_state_format", "pyspark", "jdk", "git_head", "turns", "stage_s"):
        print(f"  {k}: {facts.get(k)}")
    if "peak_rss_bytes" in facts:
        print(f"  peak_rss_mb: {facts['peak_rss_bytes'] / (1 << 20):.1f}")
    for k in sorted(facts):
        if k.startswith(("generator_", "rate_")) or k in ("offered_turns_per_s",
                                                          "chunk_interval_s"):
            print(f"  {k}: {facts[k]}")
    unit = "micro-batches" if args.workload == "stream_rate" else "operations"
    samples = {"turns_per_s": f"{len(run.op_s)} {unit}",
               "freshness_p50_s": f"{sum(w for _, w in run.freshness)} rows",
               "freshness_p99_s": f"{sum(w for _, w in run.freshness)} rows",
               "retained_mb": f"{len(run.retained)} samples"}
    for name, value in metrics.items():
        print(f"  {name} = {value} {units[name]}"
              + (f"  (n = {samples[name]})" if name in samples else "")
              + (f"  -> {moves[name]}" if moves else ""))
    print(f"  {unit} seconds: {[round(x, 3) for x in run.op_s]}")
    frac = run.failed / run.attempted if run.attempted else 1.0
    print(f"  failed_frac = {frac} ({run.failed} of {run.attempted} operations)")
    for e in run.errors:
        print(f"  FAILED {e}")
    if "self_s" in facts:
        print("  self time by span (s):")
        for name, secs in sorted(facts["self_s"].items(), key=lambda kv: -kv[1]):
            print(f"    {name}: {secs:.3f}")
    return {
        "correct": not run.errors and run.failed == 0,
        "attempted": max(1, run.attempted),
        "failed": run.failed,
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
    }


def main(argv=None) -> int:
    if not os.path.isdir(os.path.join(ROOT, PACKAGE)):
        print(f"perfbench: no {PACKAGE}/ package beside perfbench/ in {ROOT}; "
              "run from the root of a full source tree", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    args = parse(argv)
    from perfbench import box

    work = os.path.join(ROOT, ".perfbench", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    facts = box.prepare_env(ROOT, work)
    try:
        if args.trace:
            from perfbench import ledger

            run, metrics, units = ledger.measure(args, work, facts)
            moves = {name: m for name, _, _, m in ledger.LAYER_METRICS}
        else:
            run = measure(args, work, facts)
            metrics, units, moves = e2e_metrics(run), E2E, None
        missing = [k for k, v in metrics.items() if v is None]
        if missing:
            run.fail("metrics", [f"not measured: {missing}"])
        result = report(args, run, metrics, units, moves)
        artifact = os.path.join(ROOT, ".perfbench", "results",
                                f"{args.workload}-seed{args.seed}-trace{args.trace}.json")
        os.makedirs(os.path.dirname(artifact), exist_ok=True)
        with open(artifact, "w") as f:
            json.dump({"result": result, "facts": run.facts, "op_s": run.op_s,
                       "errors": run.errors}, f, indent=1, default=str)
    finally:
        stop_jvm()
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result))
    return 0 if result["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
