"""The three workloads, driven through the validator's public entry points
(``jobs.validate_transcripts``) with the CLI's defaults: engine ``join``,
``dedup_keys`` on, ``state_store="auto"``.

* ``batch``        — closed loop of batch validations of one staged corpus.
* ``stream_drain`` — closed loop of availableNow drains of the same corpus.
* ``stream_rate``  — open loop: event-time ordered chunks hard-linked into the
  watched directories on a fixed schedule while a processingTime query runs.

Every operation is checked against the generator's ground truth; a miss is a
failed operation.
"""

from __future__ import annotations

import json
import math
import os
import shutil
import sys
import threading
import time
import traceback
from contextlib import nullcontext
from dataclasses import dataclass, field
from datetime import datetime
from statistics import median

from perfbench import box, checks, corpus

# bench.py's sf0.01 sizing, ~200k turns over both sides: a run must stage,
# start a JVM and measure in about a minute, and sf0.1 takes ~10 s to
# generate alone on a 4-core box
N_CONVS = 9090
WARMUP_CONVS = 200
# untimed operations on the measured corpus after set-up: the JIT warms per
# operation, and a count, unlike a time, leaves the same amount of work
# behind every retained-memory sample
WARM_OPS = 4
# measured operations followed by a retained-memory sample. What the JVM
# keeps grows with every validation it has run (about 70 MB each on a
# 4-core box), so the samples come after the same operations in every run,
# however many the window holds.
RETAINED_OPS = 2
# stream_rate: the offered rate (source + target turns per second), chunks
# dropped per second and the trigger. On a 4-core box a micro-batch of this
# query costs 3-5 s once warm whether it holds 3k or 20k rows (1-2 s of it
# derives and commits the tally and mismatch tables), so no trigger much
# shorter than that takes effect. A 5 s trigger holds 20k turns per batch
# and gives a run two batches in each 10 s of measurement.
RATE_TURNS_PER_S = 4000
CHUNKS_PER_S = 4
TRIGGER_S = 5
# mean turns of a generated conversation over both sides, and the two hot
# 400-turn conversations on both sides
TURNS_PER_CONV = 22
HOT_TURNS = 1600
# a stream_rate run whose generator drops any chunk later than this after
# its due time is invalid: its freshness would describe the generator
LATENESS_BOUND_S = 0.25
# how long after the sentinel is due the stream_rate query may take to
# commit its last rows
RATE_TAIL_TIMEOUT_S = 60.0
# stream_rate: the chunks holding the first trigger interval of input warm
# the query up in its first batch, before the schedule starts, and their
# rows are left out of the figures. The JVM has not run a streaming query
# before: that batch takes 9-10 s where later ones take 4-5 s, and
# scheduled drops would queue up behind it and reach into the measured
# window.
RATE_WARM_S = TRIGGER_S
DRAIN_TIMEOUT_S = 150.0
FRESH_STATUSES = ("MATCH", "MISMATCH")


@dataclass
class Run:
    """Raw measurements of one benchmark run."""

    op_s: list[float] = field(default_factory=list)
    # (seconds, rows): freshness of MATCH/MISMATCH rows, grouped by value
    freshness: list[tuple[float, int]] = field(default_factory=list)
    # bytes kept after a full collection, one sample after each of the first
    # RETAINED_OPS measured operations (stream_rate: one, once every row has
    # committed)
    retained: list[int] = field(default_factory=list)
    # off where the samples' forced collections would skew other figures
    sample_memory: bool = True
    attempted: int = 0
    failed: int = 0
    errors: list[str] = field(default_factory=list)
    turns_per_s: float | None = None
    setup_s: float | None = None
    session_start_s: float | None = None
    facts: dict = field(default_factory=dict)

    def fail(self, what: str, errors: list[str], ops: int = 1) -> None:
        self.failed += ops
        self.errors.extend(f"{what}: {e}" for e in errors)


def percentile(samples: list[tuple[float, int]], q: float) -> float:
    """Nearest-rank percentile of weighted samples."""
    pairs = sorted(samples)
    total = sum(w for _, w in pairs)
    rank = max(1, math.ceil(q * total))
    seen = 0
    for value, weight in pairs:
        seen += weight
        if seen >= rank:
            return value
    raise ValueError("no samples")


def warm_seconds(workload: str, seconds: float) -> float:
    """stream_rate's input ahead of the measured ``seconds``; the closed
    loops warm up by operation count alone."""
    return min(RATE_WARM_S, seconds) if workload == "stream_rate" else 0.0


def stage_inputs(workload: str, n_convs: int | None, seed: int, feed_s: float, work: str,
                 facts: dict):
    """The measured corpus and the warm-up corpus, written before any timer
    starts; records ``stage_s``, ``turns`` and ``expected`` in ``facts``.
    stream_rate's corpus is sized to feed ``feed_s`` seconds at the offered
    rate unless ``n_convs`` is given."""
    t = time.time()
    nfiles = facts["nproc"]
    if workload == "stream_rate":
        if n_convs is None:
            n_convs = max(10, round((RATE_TURNS_PER_S * feed_s - HOT_TURNS) / TURNS_PER_CONV))
        chunks = max(2, round(feed_s * CHUNKS_PER_S))
        c = corpus.stage_chunks(n_convs, seed, os.path.join(work, "corpus"), chunks)
    else:
        c = corpus.stage(n_convs or N_CONVS, seed, os.path.join(work, "corpus"), nfiles)
    warm = corpus.stage(WARMUP_CONVS, seed, os.path.join(work, "warm"), nfiles)
    facts.update(stage_s=time.time() - t, turns=c.turns, expected=c.expected)
    return c, warm


# ---- session ------------------------------------------------------------------

def start_session(work: str, master: str | None = None):
    from spanner_data_validator_spark.session import get_spark

    return get_spark(app_name="perfbench", master=master,
                     extra_conf=box.session_conf(work))


def session_facts(spark, c: corpus.Corpus) -> dict:
    """Versions and the state layout a streaming run of ``c`` starts with:
    the provider ``session.select_state_store`` picks for ``state_store="auto"``
    with every key in flight (the drain's worst case)."""
    import pyspark

    from spanner_data_validator_spark.session import select_state_store

    return {
        "pyspark": pyspark.__version__,
        "jdk": box.java_version(),
        "state_store": select_state_store(c.turns),
        "join_state_format": spark.conf.get("spark.sql.streaming.join.stateFormatVersion"),
    }


# ---- operations -----------------------------------------------------------------

def tally_range():
    """The report's range column: 64 hash buckets of the conversation id."""
    from pyspark.sql import functions as F

    return F.pmod(F.xxhash64("conv_id"), F.lit(64))


def batch_op(spark, c: corpus.Corpus, out: str, tracer=None) -> tuple[float, float]:
    """One batch validation as the CLI's ``--mode batch`` runs it, plus the
    per-range tally: from the job call until both are written."""
    from spanner_data_validator_spark.jobs.validate_transcripts import run_batch_validation
    from spanner_data_validator_spark.operators.comparator import tally_report

    span = tracer.span if tracer else (lambda *a, **k: nullcontext())
    t0 = time.time()
    with span("jobs.classify_write"):
        classified = run_batch_validation(spark, c.src, c.tgt)
        classified.write.mode("overwrite").parquet(os.path.join(out, "classified"))
    with span("operators.tally_write"):
        report = tally_report(spark.read.parquet(os.path.join(out, "classified")),
                              tally_range(), run_name="perfbench")
        report.write.mode("overwrite").parquet(os.path.join(out, "tally"))
    return t0, time.time()


def verify_batch(out: str, expected: dict[str, int]) -> tuple[list[str], dict[str, int]]:
    rows = checks.read_parquet_dir(os.path.join(out, "classified"), checks.KEYS + ["status"])
    tally = checks.read_parquet_dir(os.path.join(out, "tally"), [
        "match_count", "source_count", "target_count",
        "source_conflict_count", "target_conflict_count"])
    return (checks.check_rows(rows, expected) + checks.check_tally_report(tally, expected),
            checks.status_counts(rows))


def drain_op(spark, c: corpus.Corpus, out: str, ckpt: str) -> tuple[float, float]:
    """One availableNow drain, from query start until it terminates."""
    from spanner_data_validator_spark.jobs.validate_transcripts import run_streaming_validation

    t0 = time.time()
    run_streaming_validation(
        spark, c.src, c.tgt, out, ckpt, dedup_keys=True, state_store="auto",
        projected_state_keys=c.turns, timeout_s=DRAIN_TIMEOUT_S)
    return t0, time.time()


def verify_stream(out: str, expected: dict[str, int]):
    """Errors, the committed classified rows (with their batch id) and the
    commit time of each micro-batch."""
    rows = checks.read_sink_table(out, "classified", checks.KEYS + ["status"])
    tallies = checks.read_sink_table(out, "tallies", ["status", "n"])
    errors = checks.check_rows(rows, expected) + checks.check_window_tallies(tallies, expected)
    return errors, rows, checks.batch_commit_times(out)


def freshness_by_batch(rows, commit_times: dict[int, float]) -> list[tuple[float, int]]:
    """(commit time of the row's batch - its ``due`` time, rows) for
    MATCH/MISMATCH rows."""
    fresh = rows[rows["status"].isin(FRESH_STATUSES)]
    fresh = fresh.assign(f=fresh["batch"].map(commit_times) - fresh["due"])
    grouped = fresh.groupby("f").size()
    return [(float(v), int(n)) for v, n in grouped.items()]


@dataclass
class RateResult:
    # due time of the first scheduled drop; drop k of the schedule was due
    # at ``t0 + k * interval``
    t0: float
    interval: float
    # chunks before this index warmed the query up and were not scheduled
    first: int
    lateness: list[float]
    # when each chunk (then the sentinel) was actually dropped
    drop_times: list[float]
    # the query's progress reports (StreamingQueryProgress as dicts)
    progress: list[dict]
    retained: list[int]


def _input_batches(q) -> list[dict]:
    return [p for p in map(json.loads, (p.json for p in q.recentProgress))
            if p["numInputRows"] > 0]


def _wait_quiet(q, quiet_s: float = 0.5) -> None:
    """Wait until no trigger of ``q`` has run for ``quiet_s`` seconds: a
    batch that moved the watermark is followed at once by a batch without
    input that evicts state, and the gap between the two is milliseconds."""
    deadline, since = time.time() + RATE_TAIL_TIMEOUT_S, None
    while True:
        if q.exception() is not None:
            raise RuntimeError(f"stream_rate query failed: {q.exception()}")
        now = time.time()
        if q.status["isTriggerActive"] or q.status["message"] == "Initializing sources":
            since = None
        elif since is None:
            since = now
        elif now - since >= quiet_s:
            return
        if now > deadline:
            raise TimeoutError("stream_rate query did not become idle after its warm-up")
        time.sleep(0.05)


def rate_op(spark, c: corpus.ChunkedCorpus, work: str, warm_chunks: int,
            sample_memory: bool) -> RateResult:
    """Warm a processingTime query up on the first ``warm_chunks`` chunks,
    dropped before it starts, so its first batch reads them. Once that batch
    and the one evicting after it have run, drop each further chunk of both
    sides on a fixed schedule, ``CHUNKS_PER_S`` a second, the sentinel with
    the last; wait until every expected row has committed, then, with
    ``sample_memory``, take a retained-memory sample while the query still
    holds its state."""
    from spanner_data_validator_spark.jobs.validate_transcripts import run_streaming_validation

    watch_src, watch_tgt = os.path.join(work, "watch_src"), os.path.join(work, "watch_tgt")
    out, ckpt = os.path.join(work, "out"), os.path.join(work, "ckpt")
    for d in (watch_src, watch_tgt, out, ckpt):
        shutil.rmtree(d, ignore_errors=True)
    os.makedirs(watch_src)
    os.makedirs(watch_tgt)
    drops = c.chunks + [c.sentinel]
    drop_times: list[float] = []

    def drop(j: int) -> None:
        for path, watch in zip(drops[j], (watch_src, watch_tgt)):
            os.link(path, os.path.join(watch, f"{j:05d}-{os.path.basename(path)}"))
        drop_times.append(time.time())

    for j in range(warm_chunks):
        drop(j)
    before = {q.id for q in spark.streams.active}
    run_streaming_validation(
        spark, watch_src, watch_tgt, out, ckpt, dedup_keys=True, state_store="auto",
        projected_state_keys=c.turns, available_now=False, trigger_interval=f"{TRIGGER_S} seconds")
    q = next(q for q in spark.streams.active if q.id not in before)
    try:
        deadline = time.time() + RATE_TAIL_TIMEOUT_S
        while not _input_batches(q):
            if q.exception() is not None:
                raise RuntimeError(f"stream_rate query failed: {q.exception()}")
            if time.time() > deadline:
                raise TimeoutError("stream_rate warm-up batch did not commit")
            time.sleep(0.05)
        _wait_quiet(q)
        interval = 1.0 / CHUNKS_PER_S
        # a processingTime trigger fires on multiples of its interval since
        # the epoch; starting the schedule half a drop interval after one
        # fixes the phase between the drops and the batches, so each trigger
        # interval takes the same drops in every run
        t0 = (math.floor(time.time() / TRIGGER_S) + 1) * TRIGGER_S + interval / 2
        scheduled = list(range(warm_chunks, len(c.chunks)))
        lateness: list[float] = []

        def feed() -> None:
            for k, j in enumerate(scheduled):
                due = t0 + k * interval
                delay = due - time.time()
                if delay > 0:
                    time.sleep(delay)
                drop(j)
                lateness.append(drop_times[-1] - due)
            drop(len(c.chunks))  # the sentinel, in the last chunk's batch

        feeder = threading.Thread(target=feed, name="chunk-feeder", daemon=True)
        feeder.start()
        feeder.join(timeout=t0 - time.time() + len(scheduled) * interval + 30)
        if feeder.is_alive():
            raise TimeoutError("chunk feeder did not finish")
        total = sum(c.expected.values())
        deadline = time.time() + RATE_TAIL_TIMEOUT_S
        while time.time() < deadline:
            if q.exception() is not None:
                raise RuntimeError(f"stream_rate query failed: {q.exception()}")
            done = checks.committed_batches(out, "classified")
            if (sum(m["rows"] for m in done.values()) >= total
                    and set(done) <= set(checks.batch_commit_times(out))):
                break
            time.sleep(0.05)
        progress = [json.loads(p.json) for p in q.recentProgress]
        retained = [box.retained_bytes(spark, os.getpid())] if sample_memory else []
        return RateResult(t0, interval, warm_chunks, lateness, drop_times, progress, retained)
    finally:
        q.stop()


# ---- measurement loops ---------------------------------------------------------------

def _attempt(run: Run, what: str, fn, *args):
    run.attempted += 1
    try:
        return fn(*args)
    except Exception:  # one failed operation; the loop goes on
        run.fail(what, [traceback.format_exc(limit=3)])
        print(traceback.format_exc(), file=sys.stderr)
        return None


def setup(run: Run, work: str, warm: corpus.Corpus):
    """``get_spark`` plus the first, cold validation of the warm-up corpus.
    The validation is a batch one in every workload: a cold streaming drain
    of even this small corpus pays three or more micro-batches of fixed cost
    (about 15 s on a 4-core box), which every run of a streaming workload
    would add to its wall time."""
    t0 = time.time()
    spark = start_session(work)
    run.session_start_s = time.time() - t0
    if _attempt(run, "warm-up", _batch_once, spark, run, warm, work, None, 0):
        run.setup_s = time.time() - t0
    return spark


def _closed_loop(run: Run, seconds: float, once, spark, *args, record: bool = True,
                 min_ops: int = 1) -> None:
    """Repeat one operation until ``seconds`` have passed and ``min_ops``
    have run; with ``record`` off the operations only warm the JVM and its
    caches. The first ``RETAINED_OPS`` recorded operations are each followed
    by a retained-memory sample, which does not count towards ``seconds``."""
    start, i, sampling = time.time(), 0, 0.0
    while i < min_ops or time.time() - start - sampling < seconds:
        i += 1
        done = _attempt(run, f"{once.__name__.strip('_')} {i}", once, spark, *args, i)
        if done and record:
            run.op_s.append(done[0])
            run.freshness.extend(done[1])
            if run.sample_memory and len(run.op_s) <= RETAINED_OPS:
                t = time.time()
                run.retained.append(box.retained_bytes(spark, os.getpid()))
                sampling += time.time() - t


def _batch_once(spark, run: Run, c: corpus.Corpus, work: str, tracer, i: int):
    out = os.path.join(work, f"batch{i}")
    t0, t1 = batch_op(spark, c, out, tracer)
    errors, _ = verify_batch(out, c.expected)
    shutil.rmtree(out, ignore_errors=True)
    if errors:
        run.fail(f"batch rep {i}", errors)
        return None
    # every row of the report becomes visible when the tally is written
    return t1 - t0, [(t1 - t0, sum(c.expected[s] for s in FRESH_STATUSES))]


def _drain_once(spark, run: Run, c: corpus.Corpus, work: str, keep, i: int):
    out, ckpt = os.path.join(work, f"drain{i}"), os.path.join(work, f"drain{i}_ckpt")
    t0, t1 = drain_op(spark, c, out, ckpt)
    errors, rows, commits = verify_stream(out, c.expected)
    if not keep:
        shutil.rmtree(out, ignore_errors=True)
        shutil.rmtree(ckpt, ignore_errors=True)
    if errors:
        run.fail(f"drain {i}", errors)
        return None
    return t1 - t0, freshness_by_batch(rows.assign(due=t0), commits)


def warm_up(spark, run: Run, c: corpus.Corpus, work: str, seconds: float, kind: str,
            min_ops: int = WARM_OPS) -> None:
    """Untimed operations on the measured corpus: the first validations of a
    fresh JVM run up to 2x slower while the JIT warms."""
    once = _batch_once if kind == "batch" else _drain_once
    _closed_loop(run, seconds, once, spark, run, c, work, None, record=False,
                 min_ops=min_ops)


def measure_batch(spark, run: Run, c: corpus.Corpus, work: str, seconds: float,
                  tracer=None) -> None:
    _closed_loop(run, seconds, _batch_once, spark, run, c, work, tracer)
    if run.op_s:
        run.turns_per_s = c.turns / median(run.op_s)


def measure_drain(spark, run: Run, c: corpus.Corpus, work: str, seconds: float,
                  keep_output: bool = False) -> None:
    _closed_loop(run, seconds, _drain_once, spark, run, c, work, keep_output)
    if run.op_s:
        run.turns_per_s = c.turns / median(run.op_s)


def measure_rate(spark, run: Run, c: corpus.ChunkedCorpus, work: str,
                 warm_s: float) -> RateResult | None:
    """One open-loop pass; the chunks holding the first ``warm_s`` seconds of
    input warm the query up and their rows are left out of the figures."""
    ops = len(c.chunks)
    run.attempted += ops - 1  # one operation per dropped chunk
    res = _attempt(run, "stream_rate", rate_op, spark, c, work,
                   round(warm_s * CHUNKS_PER_S), run.sample_memory)
    if res is None:
        run.failed += ops - 1
        return None
    out = os.path.join(work, "out")
    errors, rows, commits = verify_stream(out, c.expected)
    late = max(res.lateness)
    run.facts["generator_lateness_max_s"] = late
    run.facts["generator_lateness_p99_s"] = percentile([(x, 1) for x in res.lateness], 0.99)
    run.facts["offered_turns_per_s"] = c.turns / (len(c.chunks) * res.interval)
    run.facts["rate_warm_chunks"] = res.first
    run.facts["chunk_interval_s"] = res.interval
    if late > LATENESS_BOUND_S:
        errors.append(f"generator fell {late:.3f} s behind its schedule "
                      f"(bound {LATENESS_BOUND_S} s): run invalid")
    if errors:
        run.fail("stream_rate", errors, ops)
        return res
    rows = rows.merge(c.due_chunk, on=checks.KEYS, how="left")
    rows = rows[rows["chunk"] >= res.first]
    rows = rows.assign(due=res.t0 + res.interval * (rows["chunk"] - res.first))
    run.freshness.extend(freshness_by_batch(rows, commits))
    run.retained.extend(res.retained)
    # throughput from the query's own work: the rows of the micro-batches
    # that read scheduled input over the time those batches ran, so neither
    # the drop schedule nor the idle time between triggers counts
    batches = [p for p in res.progress
               if p["numInputRows"] > 0 and batch_start(p) >= res.t0]
    busy = sum(p["durationMs"].get("triggerExecution", 0) for p in batches) / 1e3
    run.facts["rate_trigger_s"] = TRIGGER_S
    run.facts["rate_window_batches"] = len(batches)
    run.facts["rate_batch_s"] = [p["durationMs"].get("triggerExecution", 0) / 1e3
                                 for p in batches]
    run.facts["rate_batch_start_s"] = [round(batch_start(p) - res.t0, 3) for p in batches]
    run.facts["rate_batch_rows"] = [p["numInputRows"] for p in batches]
    if busy > 0:
        run.op_s.extend(run.facts["rate_batch_s"])
        run.turns_per_s = sum(p["numInputRows"] for p in batches) / busy
    return res


def batch_start(progress: dict) -> float:
    """Start of a micro-batch, from its progress report."""
    return datetime.fromisoformat(progress["timestamp"].replace("Z", "+00:00")).timestamp()
