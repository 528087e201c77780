"""Correctness gate: every result is compared with the generator's ground
truth (``TranscriptPair.expected``), read back with pyarrow rather than
through the engine under test."""

from __future__ import annotations

import json
import os

import pandas as pd
import pyarrow.parquet as pq

STATUSES = ("MATCH", "MISMATCH", "SOURCE_ONLY", "TARGET_ONLY")
KEYS = ["conv_id", "turn_idx"]
SINK_TABLES = ("classified", "tallies", "mismatches")


def status_counts(rows: pd.DataFrame) -> dict[str, int]:
    counts = rows["status"].value_counts()
    return {s: int(counts.get(s, 0)) for s in STATUSES}


def check_rows(rows: pd.DataFrame, expected: dict[str, int]) -> list[str]:
    """Per-status counts equal ground truth and every key is emitted once."""
    errors = [f"{s}: {n} rows, expected {expected[s]}"
              for s, n in status_counts(rows).items() if n != expected[s]]
    dup = int(rows.duplicated(KEYS).sum())
    if dup:
        errors.append(f"{dup} (conv_id, turn_idx) keys emitted more than once")
    return errors


def check_tally_report(report: pd.DataFrame, expected: dict[str, int]) -> list[str]:
    """The batch ComparerResult columns summed over ranges."""
    m, mm = expected["MATCH"], expected["MISMATCH"]
    so, to = expected["SOURCE_ONLY"], expected["TARGET_ONLY"]
    want = {
        "match_count": m,
        "source_count": m + mm + so,
        "target_count": m + mm + to,
        "source_conflict_count": mm + so,
        "target_conflict_count": mm + to,
    }
    got = {c: int(report[c].sum()) for c in want}
    return [f"tally {c}: {got[c]}, expected {want[c]}" for c in want if got[c] != want[c]]


def check_window_tallies(tallies: pd.DataFrame, expected: dict[str, int]) -> list[str]:
    """The streaming sink's per-window partial tallies summed per status."""
    got = tallies.groupby("status")["n"].sum()
    return [f"tally {s}: {int(got.get(s, 0))}, expected {expected[s]}"
            for s in STATUSES if int(got.get(s, 0)) != expected[s]]


def check_same_counts(stream: dict[str, int], batch: dict[str, int]) -> list[str]:
    return [f"{s}: stream {stream[s]} != batch {batch[s]}"
            for s in STATUSES if stream[s] != batch[s]]


def read_parquet_dir(path: str, columns: list[str]) -> pd.DataFrame:
    return pq.read_table(path, columns=columns).to_pandas()


# ---- the streaming sink's batch-fenced layout (streaming/sink.py) -----------

def committed_batches(out: str, table: str) -> dict[int, dict]:
    """``{batch_id: marker}`` for every committed batch of one sink table."""
    commits = os.path.join(out, table, "_commits")
    if not os.path.isdir(commits):
        return {}
    found = {}
    for name in os.listdir(commits):
        if name.isdigit():
            path = os.path.join(commits, name)
            with open(path) as f:
                meta = json.load(f)
            meta["mtime"] = os.stat(path).st_mtime
            found[int(name)] = meta
    return found


def read_sink_table(out: str, table: str, columns: list[str]) -> pd.DataFrame:
    """Rows of every marker-backed batch, with the batch id as a column."""
    frames = []
    for bid, meta in sorted(committed_batches(out, table).items()):
        if meta["rows"]:
            df = read_parquet_dir(os.path.join(out, table, "data", f"batch={bid}"), columns)
            frames.append(df.assign(batch=bid))
    if not frames:
        return pd.DataFrame({**{c: [] for c in columns}, "batch": []})
    return pd.concat(frames, ignore_index=True)


def batch_commit_times(out: str) -> dict[int, float]:
    """When each micro-batch's last sink table (mismatches) committed."""
    last = committed_batches(out, SINK_TABLES[-1])
    return {bid: meta["mtime"] for bid, meta in last.items()}
