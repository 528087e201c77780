"""Tests of the benchmark itself: ``python -m pytest perfbench -q``.

Each workload runs end to end on a tiny corpus through the command line,
traced and untraced; the correctness gate is shown to reject a correct
run's output when the ground truth is perturbed.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pandas as pd
import pytest

from perfbench import checks, corpus, ledger, workloads
from perfbench.run import E2E, WORKLOADS

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
BENCH = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))


def _run(cwd: str, *args: str) -> subprocess.CompletedProcess:
    return subprocess.run([sys.executable, "perfbench/run.py", *args], cwd=cwd,
                          capture_output=True, text=True, timeout=170)


def test_benchmark_json_matches_the_code():
    assert {w["name"] for w in BENCH["workloads"]} <= set(WORKLOADS)
    assert {m["name"]: m["unit"] for m in BENCH["end_to_end"]} == E2E
    assert [(m["name"], m["unit"], m["better"]) for m in BENCH["per_layer"]] == [
        (name, unit, better) for name, unit, better, _ in ledger.LAYER_METRICS]


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", WORKLOADS)
def test_tiny_pass_prints_every_metric(workload, trace):
    proc = _run(ROOT, "--workload", workload, "--seed", "5", "--seconds", "1",
                "--trace", str(trace), "--n-convs", "40")
    assert proc.returncode == 0, proc.stdout[-3000:] + proc.stderr[-3000:]
    result = json.loads(proc.stdout.strip().splitlines()[-1])
    assert result["correct"] and result["failed"] == 0 and result["attempted"] >= 1
    wanted = BENCH["per_layer"] if trace else BENCH["end_to_end"]
    assert {k: v["unit"] for k, v in result["metrics"].items()} == {
        m["name"]: m["unit"] for m in wanted}
    for m in wanted:
        assert f"{m['name']} = " in proc.stdout and m["unit"] in proc.stdout
    if trace:
        assert result["metrics"]["streaming.watermark_dropped_groups"]["value"] == 0


def test_refuses_to_run_without_the_package(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(os.path.join(ROOT, "perfbench"), tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    proc = _run(str(tmp_path), "--workload", "batch", "--seed", "1", "--seconds", "1")
    assert proc.returncode != 0
    assert proc.stdout.strip() == ""


def _perturbed(expected):
    return [{**expected, status: expected[status] + 1} for status in checks.STATUSES]


def _with_session(work: str, check) -> None:
    """Run ``check(spark, work)`` in a session with the benchmark's settings,
    then stop its JVM."""
    from perfbench import box
    from perfbench.run import stop_jvm

    box.prepare_env(ROOT, work)
    try:
        check(workloads.start_session(work, master="local[2]"), work)
    finally:
        stop_jvm()


def _in_child(check: str, work) -> None:
    """Run one of the checks below in a child process: the deployment
    settings change the environment, and a JVM started with them would be
    reused by every later test in this process."""
    code = (f"from perfbench.test_perfbench import _with_session, {check}; "
            f"_with_session({str(work)!r}, {check})")
    proc = subprocess.run([sys.executable, "-c", code], cwd=ROOT,
                          capture_output=True, text=True, timeout=600)
    assert proc.returncode == 0, proc.stdout[-3000:] + proc.stderr[-3000:]


def _gate_batch(spark, work):
    c = corpus.stage(30, 3, os.path.join(work, "corpus"), 2)
    out = os.path.join(work, "out")
    workloads.batch_op(spark, c, out)
    assert workloads.verify_batch(out, c.expected)[0] == []
    for wrong in _perturbed(c.expected):
        assert workloads.verify_batch(out, wrong)[0]


def _gate_stream(spark, work):
    c = corpus.stage(30, 3, os.path.join(work, "corpus"), 2)
    out = os.path.join(work, "out")
    workloads.drain_op(spark, c, out, os.path.join(work, "ckpt"))
    errors, rows, _ = workloads.verify_stream(out, c.expected)
    assert errors == []
    for wrong in _perturbed(c.expected):
        assert workloads.verify_stream(out, wrong)[0]
    batch_out = os.path.join(work, "batch")
    workloads.batch_op(spark, c, batch_out)
    assert checks.check_same_counts(checks.status_counts(rows),
                                    workloads.verify_batch(batch_out, c.expected)[1]) == []
    again = pd.concat([rows, rows.iloc[:1]])
    assert any("more than once" in e for e in checks.check_rows(again, c.expected))


def test_gate_rejects_perturbed_ground_truth_batch(tmp_path):
    _in_child("_gate_batch", tmp_path)


def test_gate_rejects_perturbed_ground_truth_stream(tmp_path):
    _in_child("_gate_stream", tmp_path)


def test_failed_operation_makes_the_run_incorrect():
    from perfbench import run as cli

    r = workloads.Run(attempted=3, facts={"peak_rss_bytes": 1})
    r.fail("rep 2", ["MATCH: 1 rows, expected 2"])
    args = type("A", (), {"workload": "batch", "seed": 1, "seconds": 1.0, "trace": 0})
    result = cli.report(args, r, {"setup_s": 1.0}, E2E)
    assert result["correct"] is False and result["failed"] == 1


def test_status_store_metric_strings():
    assert ledger.parse_metric("4,234", "sum") == 4234
    assert ledger.parse_metric("133.1 KiB", "size") == pytest.approx(133.1 * 1024)
    assert ledger.parse_metric(
        "total (min, med, max (stageId: taskId))\n4.0 s (250 ms, 308 ms, 3.5 s (stage 1.0: task 3))",
        "timing") == 4.0
    assert ledger.parse_metric("83 ms", "nsTiming") == pytest.approx(0.083)


def test_percentile_and_input_lag():
    samples = [(1.0, 98), (5.0, 1), (9.0, 1)]
    assert workloads.percentile(samples, 0.5) == 1.0
    assert workloads.percentile(samples, 0.99) == 5.0
    # drops at t=0,1,2,3 (2 files each); batches start at t=0.5 and t=2.5
    assert ledger.input_lag_files_max([0, 1, 2, 3], 2, {0: 0.5, 1: 2.5}, {0: 2, 1: 4}) == 4
