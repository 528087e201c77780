"""Seeded input staging: every file the validator reads is written here,
before any timer starts, straight from ``datagen.gen_transcript_pair``.

The generator's default mix: 1/3 tool rows with key-reordered JSON, 2%
mismatch, 2% source-only, 2% target-only, 1% late rows, 5 duplicate keys and
two hot 400-turn conversations. The parquet files are written with pyarrow,
not Spark, so staging needs no session and the program under test only ever
sees finished files.
"""

from __future__ import annotations

import os
import shutil
from dataclasses import dataclass

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

from perfbench.checks import KEYS
from spanner_data_validator_spark.datagen import gen_transcript_pair
from spanner_data_validator_spark.jobs.validate_transcripts import SENTINEL_CONV

# far-future event time of the watermark-punctuation row (jobs.append_sentinel)
SENTINEL_TS_US = 4_102_444_800_000_000  # 2100-01-01T00:00:00Z


@dataclass
class Corpus:
    src: str
    tgt: str
    turns: int  # source + target rows, the unit of every throughput figure
    expected: dict[str, int]


@dataclass
class ChunkedCorpus(Corpus):
    """Event-time ordered chunks, one parquet file per side each."""

    chunks: list[tuple[str, str]]  # (source file, target file) per chunk
    sentinel: tuple[str, str]
    # (conv_id, turn_idx, chunk): the chunk holding the later of a key's rows
    due_chunk: pd.DataFrame


def _table(df: pd.DataFrame) -> pa.Table:
    tbl = pa.Table.from_pandas(df, preserve_index=False)
    # session time zone is UTC, so naive datagen stamps are UTC instants
    ts = tbl.column("ts").cast(pa.timestamp("us")).cast(pa.timestamp("us", tz="UTC"))
    return tbl.set_column(tbl.schema.get_field_index("ts"), "ts", ts)


def _sentinel_table() -> pa.Table:
    return pa.table({
        "conv_id": [SENTINEL_CONV],
        "turn_idx": pa.array([0], pa.int32()),
        "role": ["system"],
        "text": ["sentinel"],
        "tool": pa.array([None], pa.string()),
        "ts": pa.array([SENTINEL_TS_US], pa.int64()).cast(pa.timestamp("us", tz="UTC")),
    })


def _write_split(tbl: pa.Table, out: str, n_files: int) -> None:
    os.makedirs(out)
    step = -(-tbl.num_rows // n_files)
    for i in range(n_files):
        pq.write_table(tbl.slice(i * step, step), os.path.join(out, f"part-{i:05d}.parquet"))


def stage(n_convs: int, seed: int, out: str, n_files: int) -> Corpus:
    """Both sides as ``n_files`` parquet files each, plus the sentinel file
    that lets a streaming drain flush its outer rows."""
    shutil.rmtree(out, ignore_errors=True)
    pair = gen_transcript_pair(n_convs, seed=seed)
    dirs = []
    for side, df in (("src", pair.source), ("tgt", pair.target)):
        d = os.path.join(out, side)
        _write_split(_table(df), d, n_files)
        pq.write_table(_sentinel_table(), os.path.join(d, "sentinel.parquet"))
        dirs.append(d)
    return Corpus(dirs[0], dirs[1], len(pair.source) + len(pair.target), pair.expected)


def stage_chunks(n_convs: int, seed: int, out: str, n_chunks: int) -> ChunkedCorpus:
    """Sort each side by event time and cut both at the same event-time
    boundaries (quantiles of the source side), so chunk ``j`` of either side
    holds what happened in one slice of event time. Within a side no row is
    older than the watermark a previous chunk set."""
    shutil.rmtree(out, ignore_errors=True)
    pair = gen_transcript_pair(n_convs, seed=seed)
    src = pair.source.sort_values("ts", kind="stable").reset_index(drop=True)
    tgt = pair.target.sort_values("ts", kind="stable").reset_index(drop=True)
    edges = src["ts"].to_numpy()[[len(src) * j // n_chunks for j in range(1, n_chunks)]]
    sides = {}
    for side, df in (("src", src), ("tgt", tgt)):
        chunk = np.searchsorted(edges, df["ts"].to_numpy(), side="right")
        d = os.path.join(out, side)
        os.makedirs(d)
        tbl = _table(df)
        files = []
        for j in range(n_chunks):
            idx = np.flatnonzero(chunk == j)
            path = os.path.join(d, f"chunk-{j:05d}.parquet")
            pq.write_table(tbl.take(pa.array(idx)), path)
            files.append(path)
        sentinel = os.path.join(d, "sentinel.parquet")
        pq.write_table(_sentinel_table(), sentinel)
        keyed = df[KEYS].assign(chunk=chunk)
        sides[side] = (files, sentinel, keyed.groupby(KEYS, as_index=False)["chunk"].max())
    (sf, ss, sk), (tf, ts_, tk) = sides["src"], sides["tgt"]
    due = sk.merge(tk, on=KEYS, how="outer", suffixes=("_s", "_t"))
    due["chunk"] = due[["chunk_s", "chunk_t"]].max(axis=1).astype(np.int64)
    return ChunkedCorpus(
        src=os.path.join(out, "src"), tgt=os.path.join(out, "tgt"),
        turns=len(src) + len(tgt), expected=pair.expected,
        chunks=list(zip(sf, tf)),
        sentinel=(ss, ts_),
        due_chunk=due[KEYS + ["chunk"]],
    )
