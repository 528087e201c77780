"""The traced run: spans around each layer's public calls, Spark's own
counters, and the per-layer ledger built from them.

End-to-end runs are untraced. A traced run first repeats one untraced
operation of its workload as the reference, then runs the same operation
traced; the difference is the tracing overhead. All spans come from this
benchmark's files:

* prefix materialisations of each public call of the batch path
  (``read_transcripts`` -> ``fingerprint_stream`` -> ``dedup_first`` ->
  ``classify_stream``), each written to the ``noop`` sink;
* the batch operation's classify+write and tally+write steps;
* one span per micro-batch from a benchmark-registered
  ``StreamingQueryListener``, its ``durationMs`` phases as children and its
  ``stateOperators`` as zero-length children of ``addBatch``;
* one span per sink batch and per sink table commit (wrapping the
  ``streaming.sink`` classes for the traced operation only).

Operator counts come from Spark's SQL status store, read after each
operation once the listener bus has drained. The ``batch`` traced run also
drains its corpus traced, for the streaming and sink layers, and times one
operation at ``local[1]``; a layer a workload does not exercise reports 0.
"""

from __future__ import annotations

import itertools
import json
import os
import threading
import time
import uuid
from collections import defaultdict
from contextlib import contextmanager
from statistics import median

from perfbench import box, checks, corpus, workloads

# (name, unit, better, the end-to-end metric and workload it should move)
LAYER_METRICS = [
    ("session.start_s", "s", "lower", "setup_s, all workloads"),
    ("session.first_run_s", "s", "lower", "setup_s, all workloads"),
    ("datagen.stage_s", "s", "lower", "none: staging is untimed"),
    ("sources.scan_s", "s", "lower", "turns_per_s, batch"),
    ("sources.bytes_read", "bytes", "lower", "turns_per_s, batch"),
    ("sources.files_read", "count", "lower", "turns_per_s, batch"),
    ("sources.latest_offset_s", "s", "lower", "freshness_p50_s/p99_s, stream_rate"),
    ("sources.get_batch_s", "s", "lower", "freshness_p50_s/p99_s, stream_rate"),
    ("sources.input_lag_files_max", "count", "lower", "freshness_p50_s/p99_s, stream_rate"),
    ("functions.fingerprint_s", "s", "lower", "turns_per_s, batch and stream_drain"),
    ("functions.python_run_s", "s", "lower", "turns_per_s, batch"),
    ("functions.python_rows", "count", "lower", "turns_per_s, batch"),
    ("functions.python_bytes_sent", "bytes", "lower", "turns_per_s, batch"),
    ("functions.python_bytes_returned", "bytes", "lower", "turns_per_s, batch"),
    ("functions.python_start_s", "s", "lower", "setup_s, all workloads"),
    ("functions.python_init_s", "s", "lower", "setup_s, all workloads"),
    ("operators.dedup_s", "s", "lower", "turns_per_s, batch"),
    ("operators.dedup_collapsed_rows", "count", "lower", "turns_per_s, batch"),
    ("operators.join_classify_s", "s", "lower", "turns_per_s, batch"),
    ("operators.tally_s", "s", "lower", "turns_per_s, batch"),
    ("operators.shuffle_bytes", "bytes", "lower", "turns_per_s, batch"),
    ("operators.shuffle_skew", "ratio", "lower", "turns_per_s, batch"),
    ("streaming.batches", "count", "lower", "turns_per_s, stream_drain; freshness_p50_s, stream_rate"),
    ("streaming.trigger_s", "s", "lower", "turns_per_s, stream_drain; freshness_p50_s, stream_rate"),
    ("streaming.trigger_batch_p50_s", "s", "lower", "freshness_p50_s, stream_rate"),
    ("streaming.add_batch_s", "s", "lower", "turns_per_s, stream_drain; freshness_p50_s, stream_rate"),
    ("streaming.add_batch_batch_p50_s", "s", "lower", "freshness_p50_s, stream_rate"),
    ("streaming.query_planning_s", "s", "lower", "turns_per_s, stream_drain; freshness_p50_s, stream_rate"),
    ("streaming.wal_commit_s", "s", "lower", "turns_per_s, stream_drain; freshness_p50_s, stream_rate"),
    ("streaming.commit_offsets_s", "s", "lower", "turns_per_s, stream_drain; freshness_p50_s, stream_rate"),
    ("streaming.outside_trigger_s", "s", "lower", "turns_per_s, stream_drain; freshness_p50_s, stream_rate"),
    ("streaming.state_rows_peak", "count", "lower", "turns_per_s, stream_drain; freshness_p99_s and retained_mb, stream_rate"),
    ("streaming.state_mem_bytes_peak", "bytes", "lower", "turns_per_s, stream_drain; freshness_p99_s and retained_mb, stream_rate"),
    ("streaming.state_commit_s", "s", "lower", "turns_per_s, stream_drain; freshness_p99_s, stream_rate"),
    ("streaming.state_commit_batch_p50_s", "s", "lower", "freshness_p50_s, stream_rate"),
    ("streaming.state_update_s", "s", "lower", "turns_per_s, stream_drain; freshness_p99_s, stream_rate"),
    ("streaming.state_remove_s", "s", "lower", "turns_per_s, stream_drain; freshness_p99_s, stream_rate"),
    ("streaming.state_instances", "count", "lower", "turns_per_s, stream_drain; freshness_p99_s, stream_rate"),
    ("streaming.watermark_dropped_groups", "count", "lower", "failed operations, all workloads (must be 0)"),
    ("sink.derive_s", "s", "lower", "freshness_p50_s, stream_rate; turns_per_s, stream_drain"),
    ("sink.derive_batch_p50_s", "s", "lower", "freshness_p50_s, stream_rate"),
    ("sink.rows_written", "count", "lower", "freshness_p50_s, stream_rate; turns_per_s, stream_drain"),
    ("sink.files_written", "count", "lower", "freshness_p50_s, stream_rate; turns_per_s, stream_drain"),
    ("proc.gc_s", "s", "lower", "turns_per_s, batch and stream_drain"),
    ("proc.cpu_util", "ratio", "higher", "turns_per_s, batch and stream_drain"),
    ("baseline.local1_turns_per_s", "1/s", "higher", "none: the single-threaded batch baseline"),
    ("baseline.speedup", "ratio", "higher", "turns_per_s, batch (local[nproc] over local[1])"),
    ("trace.overhead_frac", "ratio", "lower", "none: traced minus untraced, over untraced"),
]

JOIN_NODES = ("SortMergeJoin", "ShuffledHashJoin", "StreamingSymmetricHashJoin")
# MicroBatchExecution runs its reported phases in this order
PHASES = ("latestOffset", "walCommit", "getBatch", "queryPlanning", "addBatch", "commitOffsets")
_SIZE = {"B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30, "TiB": 1 << 40}
_TIME = {"ms": 1e-3, "s": 1.0, "m": 60.0, "min": 60.0, "h": 3600.0}


# ---- spans --------------------------------------------------------------------------

class Tracer:
    """In-memory spans of one run, sharing one trace id; written at exit."""

    def __init__(self):
        self.trace_id = uuid.uuid4().hex
        self.spans: list[dict] = []
        self._ids = itertools.count(1)
        self._local = threading.local()

    def add(self, name: str, start: float, end: float, parent: int | None = None,
            **attrs) -> int:
        sid = next(self._ids)
        self.spans.append({"trace_id": self.trace_id, "id": sid, "parent": parent,
                           "name": name, "start": start, "end": end, "attrs": attrs})
        return sid

    @contextmanager
    def span(self, name: str, parent: int | None = None, **attrs):
        """Time the block; nested spans on the same thread become children."""
        stack = self._local.__dict__.setdefault("stack", [])
        sid = next(self._ids)
        parent = parent if parent is not None else (stack[-1] if stack else None)
        start = time.time()
        stack.append(sid)
        try:
            yield sid
        finally:
            stack.pop()
            self.spans.append({"trace_id": self.trace_id, "id": sid, "parent": parent,
                               "name": name, "start": start, "end": time.time(),
                               "attrs": attrs})

    def self_times(self) -> dict[str, float]:
        """Seconds per span name, each span's duration minus the part of it
        its children cover."""
        kids = defaultdict(list)
        for s in self.spans:
            kids[s["parent"]].append(s)
        out: dict[str, float] = defaultdict(float)
        for s in self.spans:
            covered, cursor = 0.0, s["start"]
            for a, b in sorted((max(k["start"], s["start"]), min(k["end"], s["end"]))
                               for k in kids[s["id"]]):
                if b > cursor:
                    covered += b - max(a, cursor)
                    cursor = b
            out[s["name"]] += (s["end"] - s["start"]) - covered
        return dict(out)

    def dump(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump({"trace_id": self.trace_id, "spans": self.spans,
                       "self_s": self.self_times()}, f, indent=1)


# ---- Spark's counters --------------------------------------------------------------------

def _scala_iter(coll):
    it = coll.iterator()
    while it.hasNext():
        yield it.next()


def drain_listener_bus(spark) -> None:
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()


def sql_mark(spark) -> int:
    """Id of the newest SQL execution so far (-1 if none)."""
    drain_listener_bus(spark)
    store = spark._jsparkSession.sharedState().statusStore()
    return max((e.executionId() for e in _scala_iter(store.executionsList())), default=-1)


def parse_metric(text: str, kind: str) -> float:
    """A status-store metric string as a number (bytes, seconds or count).
    Aggregated metrics read ``total (min, med, max ...)\\n<total> (...)``."""
    head = text.split("\n")[-1].split(" (")[0].strip()
    if kind == "sum":
        return float(head.replace(",", ""))
    num, unit = head.split()
    scale = _SIZE[unit] if kind == "size" else _TIME[unit]
    return float(num.replace(",", "")) * scale


class SqlMetrics:
    """Plan-node metrics of the SQL executions after ``mark``, summed by
    (node name, metric name)."""

    def __init__(self, spark, mark: int):
        drain_listener_bus(spark)
        store = spark._jsparkSession.sharedState().statusStore()
        self.totals: dict[tuple[str, str], float] = defaultdict(float)
        self.join_jobs: list[int] = []
        for e in _scala_iter(store.executionsList()):
            eid = e.executionId()
            if eid <= mark:
                continue
            values = store.executionMetrics(eid)
            names = set()
            for node in _scala_iter(store.planGraph(eid).allNodes()):
                names.add(node.name())
                for m in _scala_iter(node.metrics()):
                    v = values.get(m.accumulatorId())
                    if v.isDefined() and m.metricType() in ("sum", "size", "timing", "nsTiming"):
                        self.totals[(node.name().strip(), m.name())] += parse_metric(
                            v.get(), m.metricType())
            jobs = [int(j) for j in _scala_iter(e.jobs().keySet())]
            if jobs and any(n in JOIN_NODES for n in names):
                self.join_jobs.append(max(jobs))

    def get(self, node_prefix: str, metric: str) -> float:
        return sum(v for (n, m), v in self.totals.items()
                   if n.startswith(node_prefix) and m == metric)

    def shuffle_skew(self, spark) -> float:
        """Max over median task time in the result stage of the join job
        with the most task time (where the hot conversations land)."""
        app = spark.sparkContext._jsc.sc().statusStore()
        best, skew = -1.0, 0.0
        for job in self.join_jobs:
            stage = max(int(s) for s in _scala_iter(app.job(job).stageIds()))
            durs = sorted(int(t.duration().get()) for t in _scala_iter(app.taskList(stage, 0, 1 << 20))
                          if t.duration().isDefined())
            if durs and sum(durs) > best:
                best, skew = sum(durs), durs[-1] / max(1, median(durs))
        return skew


def gc_s(spark) -> float:
    beans = spark._jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
    return sum(b.getCollectionTime() for b in beans) / 1000.0


@contextmanager
def proc_window(spark, out: dict):
    """CPU utilisation of the JVM tree and JVM GC seconds over the block."""
    pid = os.getpid()
    cpu0, gc0, t0 = box.tree_cpu_s(pid), gc_s(spark), time.time()
    yield
    out["proc.cpu_util"] = (box.tree_cpu_s(pid) - cpu0) / ((time.time() - t0) * box.nproc())
    out["proc.gc_s"] = gc_s(spark) - gc0


# ---- streaming: listener and sink spans ------------------------------------------------------

def _progress_listener_class():
    from pyspark.sql.streaming import StreamingQueryListener

    class ProgressLog(StreamingQueryListener):
        def __init__(self):
            self.events: list[dict] = []

        def onQueryStarted(self, event):
            pass

        def onQueryProgress(self, event):
            self.events.append(json.loads(event.progress.json))

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            pass

    return ProgressLog


@contextmanager
def stream_tracing(spark, tracer: Tracer):
    """Register the progress listener and wrap the sink classes for the
    duration of one traced streaming operation; yields the listener."""
    from spanner_data_validator_spark.streaming import sink as sink_mod

    listener = _progress_listener_class()()
    spark.streams.addListener(listener)
    tally_call = sink_mod.TallyForeachBatch.__call__
    commit_call = sink_mod.ExactlyOnceParquetSink.__call__

    def traced_tally(self, batch_df, batch_id):
        with tracer.span("sink.batch", batch_id=batch_id):
            return tally_call(self, batch_df, batch_id)

    def traced_commit(self, batch_df, batch_id):
        with tracer.span("sink.commit", batch_id=batch_id, table=os.path.basename(self.out_dir)):
            return commit_call(self, batch_df, batch_id)

    sink_mod.TallyForeachBatch.__call__ = traced_tally
    sink_mod.ExactlyOnceParquetSink.__call__ = traced_commit
    try:
        yield listener
    finally:
        sink_mod.TallyForeachBatch.__call__ = tally_call
        sink_mod.ExactlyOnceParquetSink.__call__ = commit_call
        drain_listener_bus(spark)
        spark.streams.removeListener(listener)


def batch_spans(tracer: Tracer, events: list[dict], parent: int) -> None:
    """One span per micro-batch with its phases and state operators; the
    sink spans of that batch move under its ``addBatch`` phase."""
    sink_batches = {s["attrs"]["batch_id"]: s for s in tracer.spans if s["name"] == "sink.batch"}
    for ev in events:
        start = workloads.batch_start(ev)
        dur = ev.get("durationMs", {})
        bid = tracer.add("streaming.batch", start, start + dur.get("triggerExecution", 0) / 1e3,
                         parent, batch_id=ev["batchId"], rows=ev.get("numInputRows"))
        cursor = start
        for phase in PHASES:
            if phase not in dur:
                continue
            end = cursor + dur[phase] / 1e3
            pid = tracer.add(f"streaming.{phase}", cursor, end, bid)
            if phase == "addBatch":
                for op in ev.get("stateOperators", []):
                    tracer.add(f"streaming.state.{op.get('operatorName')}", cursor, cursor, pid,
                               **{k: v for k, v in op.items() if k != "customMetrics"})
                if ev["batchId"] in sink_batches:
                    sink_batches[ev["batchId"]]["parent"] = pid
            cursor = end


def streaming_ledger(events: list[dict], tracer: Tracer, op_wall_s: float) -> dict:
    def total(phase):
        return sum(ev.get("durationMs", {}).get(phase, 0) for ev in events) / 1e3

    def per_batch(phase):
        vals = [ev.get("durationMs", {}).get(phase, 0) / 1e3 for ev in events]
        return median(vals) if vals else 0.0

    def state(key):
        """Per batch, ``key`` summed over the stateful operators."""
        return [sum(op.get(key) or 0 for op in ev.get("stateOperators", [])) for ev in events]

    commit_per_batch = [x / 1e3 for x in state("commitTimeMs")]
    out = {
        "streaming.batches": len(events),
        "streaming.trigger_s": total("triggerExecution"),
        "streaming.trigger_batch_p50_s": per_batch("triggerExecution"),
        "streaming.add_batch_s": total("addBatch"),
        "streaming.add_batch_batch_p50_s": per_batch("addBatch"),
        "streaming.query_planning_s": total("queryPlanning"),
        "streaming.wal_commit_s": total("walCommit"),
        "streaming.commit_offsets_s": total("commitOffsets"),
        "streaming.outside_trigger_s": op_wall_s - total("triggerExecution"),
        "streaming.state_rows_peak": max(state("numRowsTotal"), default=0),
        "streaming.state_mem_bytes_peak": max(state("memoryUsedBytes"), default=0),
        "streaming.state_commit_s": sum(commit_per_batch),
        "streaming.state_commit_batch_p50_s": median(commit_per_batch) if events else 0.0,
        "streaming.state_update_s": sum(state("allUpdatesTimeMs")) / 1e3,
        "streaming.state_remove_s": sum(state("allRemovalsTimeMs")) / 1e3,
        "streaming.state_instances": max(state("numStateStoreInstances"), default=0),
        "streaming.watermark_dropped_groups": sum(state("numRowsDroppedByWatermark")),
        "sources.latest_offset_s": total("latestOffset"),
        "sources.get_batch_s": total("getBatch"),
    }
    commits = defaultdict(dict)
    for s in tracer.spans:
        if s["name"] == "sink.commit":
            commits[s["attrs"]["batch_id"]][s["attrs"]["table"]] = s["end"]
    derive = [max(t.values()) - t["classified"] for t in commits.values() if "classified" in t]
    out["sink.derive_s"] = sum(derive)
    out["sink.derive_batch_p50_s"] = median(derive) if derive else 0.0
    return out


def sink_counts(out_dir: str) -> dict:
    rows = sum(m["rows"] for t in checks.SINK_TABLES
               for m in checks.committed_batches(out_dir, t).values())
    files = sum(name.endswith(".parquet") for _, _, names in os.walk(out_dir) for name in names)
    return {"sink.rows_written": rows, "sink.files_written": files}


def _log_offset(offset) -> int:
    if isinstance(offset, str):
        offset = json.loads(offset)
    return -1 if offset is None else int(offset["logOffset"])


def source_files_by_batch(ckpt: str, events: list[dict]) -> dict[int, int]:
    """Files each micro-batch read: the entries of the file-stream sources'
    logs between the batch's start and end offsets. A source's log counts
    only the batches that found new files, so its offsets are not the
    query's batch ids once a batch without input has run."""
    sources = os.path.join(ckpt, "sources")
    logs = []
    for src in sorted(os.listdir(sources), key=int):
        paths: dict[int, set] = defaultdict(set)
        d = os.path.join(sources, src)
        for name in os.listdir(d):
            if name.startswith("."):
                continue
            with open(os.path.join(d, name)) as f:
                for line in f:
                    line = line.strip()
                    if line.startswith("{"):
                        entry = json.loads(line)
                        paths[entry["batchId"]].add(entry["path"])
        logs.append({off: len(p) for off, p in paths.items()})
    files = {}
    for ev in events:
        files[ev["batchId"]] = sum(
            n for log, src in zip(logs, ev["sources"])
            for off, n in log.items()
            if _log_offset(src["startOffset"]) < off <= _log_offset(src["endOffset"]))
    return files


def input_lag_files_max(drop_times: list[float], files_per_drop: int,
                        batch_starts: dict[int, float], files_by_batch: dict[int, int],
                        since: float = float("-inf")) -> int:
    """Most files ever dropped but not yet in a started batch: the backlog
    just before each batch that starts at or after ``since``."""
    worst, included = 0, 0
    for b in sorted(batch_starts):
        dropped = files_per_drop * sum(t <= batch_starts[b] for t in drop_times)
        if batch_starts[b] >= since:
            worst = max(worst, dropped - included)
        included += files_by_batch.get(b, 0)
    return worst


# ---- batch prefixes ---------------------------------------------------------------------------

def prefix_chain(spark, tracer: Tracer, c: corpus.Corpus, reps: int = 3) -> dict:
    """Materialise each public call's output, both sides in one job, into the
    ``noop`` sink ``reps`` times; a layer's time is the median of its prefix
    minus the median of the prefix before it."""
    from spanner_data_validator_spark.jobs.validate_transcripts import run_batch_validation
    from spanner_data_validator_spark.operators.comparator import dedup_first, tally_report
    from spanner_data_validator_spark.sources.transcript_source import read_transcripts
    from spanner_data_validator_spark.streaming.validate_stream import fingerprint_stream

    def both(f):
        return f(read_transcripts(spark, c.src)).unionByName(f(read_transcripts(spark, c.tgt)))

    def fingerprint():
        return both(fingerprint_stream)

    def dedup():
        return both(lambda df: dedup_first(fingerprint_stream(df), checks.KEYS, carry_cols=["ts"]))

    steps = [("sources.scan", lambda: both(lambda df: df)),
             ("functions.fingerprint", fingerprint),
             ("operators.dedup", dedup),
             ("operators.join_classify", lambda: run_batch_validation(spark, c.src, c.tgt)),
             ("operators.tally", lambda: tally_report(run_batch_validation(spark, c.src, c.tgt),
                                                      workloads.tally_range()))]
    took = defaultdict(list)
    out = {}
    with tracer.span("prefixes"):
        for rep in range(reps):
            for name, build in steps:
                df = build()
                mark = sql_mark(spark)
                with tracer.span(f"{name}.prefix") as sid:
                    df.write.format("noop").mode("overwrite").save()
                span = next(s for s in tracer.spans if s["id"] == sid)
                took[name].append(span["end"] - span["start"])
                if name == "sources.scan" and rep == 0:
                    m = SqlMetrics(spark, mark)
                    out["sources.bytes_read"] = m.get("Scan", "size of files read")
                    out["sources.files_read"] = m.get("Scan", "number of files read")
        out["operators.dedup_collapsed_rows"] = fingerprint().count() - dedup().count()
    prev = 0.0
    for name, _ in steps:
        t = median(took[name])
        out[f"{name}_s"] = t - prev
        prev = t
    return out


def python_metrics(m: SqlMetrics) -> dict:
    node = "ArrowEvalPython"
    return {
        "functions.python_run_s": m.get(node, "time to run Python workers"),
        "functions.python_rows": m.get(node, "number of output rows"),
        "functions.python_bytes_sent": m.get(node, "data sent to Python workers"),
        "functions.python_bytes_returned": m.get(node, "data returned from Python workers"),
        "functions.python_start_s": m.get(node, "time to start Python workers"),
        "functions.python_init_s": m.get(node, "time to initialize Python workers"),
    }


# ---- the traced run -----------------------------------------------------------------------------

def measure(args, work: str, facts: dict):
    """Stage, set up, run the untraced reference and the traced operation;
    returns (run, per-layer metrics, units)."""
    warm_s = workloads.warm_seconds(args.workload, args.seconds)
    c, warm = workloads.stage_inputs(args.workload, args.n_convs, args.seed,
                                     warm_s + args.seconds, work, facts)
    tracer = Tracer()
    run = workloads.Run(facts=facts)
    ledger = {name: 0.0 for name, *_ in LAYER_METRICS}
    ledger["datagen.stage_s"] = facts["stage_s"]
    with tracer.span("session.setup"):
        spark = workloads.setup(run, work, warm)
    facts.update(workloads.session_facts(spark, c))
    ledger["session.start_s"] = run.session_start_s
    if run.setup_s is not None:
        ledger["session.first_run_s"] = run.setup_s - run.session_start_s
    cold = python_metrics(SqlMetrics(spark, -1))
    ledger["functions.python_start_s"] = cold["functions.python_start_s"]
    ledger["functions.python_init_s"] = cold["functions.python_init_s"]

    if args.workload == "batch":
        _traced_batch(spark, run, c, work, tracer, ledger, warm_s)
    elif args.workload == "stream_drain":
        _traced_drain(spark, run, c, work, tracer, ledger, warm_s)
    else:
        _traced_rate(spark, run, c, work, tracer, ledger, warm_s)

    tracer.dump(os.path.join(os.path.dirname(work), "results",
                             f"{args.workload}-seed{args.seed}-trace1.spans.json"))
    facts["self_s"] = tracer.self_times()
    units = {name: unit for name, unit, *_ in LAYER_METRICS}
    return run, {k: float(ledger[k]) for k in units}, units


def _op_metrics(spark, ledger: dict, mark: int) -> None:
    m = SqlMetrics(spark, mark)
    for k, v in python_metrics(m).items():
        if not k.endswith(("_start_s", "_init_s")):
            ledger[k] = v
    ledger["operators.shuffle_bytes"] = m.get("Exchange", "shuffle bytes written")
    ledger["operators.shuffle_skew"] = m.shuffle_skew(spark)


def _traced_batch(spark, run, c, work, tracer, ledger, warm_s):
    ref = workloads.Run(sample_memory=False)
    workloads.warm_up(spark, ref, c, work, warm_s, "batch")
    cpu = {}
    with proc_window(spark, cpu):
        workloads.measure_batch(spark, ref, c, work, 0)
    ledger.update(prefix_chain(spark, tracer, c))
    mark = sql_mark(spark)
    traced = workloads.Run(sample_memory=False)
    with tracer.span("jobs.batch_rep"):
        workloads.measure_batch(spark, traced, c, work, 0, tracer=tracer)
    _op_metrics(spark, ledger, mark)
    ledger.update(cpu)
    _merge(run, ref, traced)
    if ref.op_s and traced.op_s:
        ledger["trace.overhead_frac"] = traced.op_s[0] / ref.op_s[0] - 1

    # the same corpus streamed: this state-heavy availableNow drain supplies
    # the streaming and sink layers of the batch ledger
    _merge(run, _drain_traced(spark, c, work, tracer, ledger))

    # the single-threaded baseline: same job at local[1], after a warm-up
    spark.stop()
    with tracer.span("baseline.local1"):
        spark = workloads.start_session(work, master="local[1]")
        base = workloads.Run(sample_memory=False)
        warm = corpus.stage(workloads.WARMUP_CONVS, 0, os.path.join(work, "warm1"), 1)
        workloads.warm_up(spark, base, warm, work, 0, "batch", min_ops=1)
        workloads.measure_batch(spark, base, c, work, 0)
    _merge(run, base)
    if base.op_s and ref.op_s:
        ledger["baseline.local1_turns_per_s"] = c.turns / base.op_s[0]
        ledger["baseline.speedup"] = base.op_s[0] / ref.op_s[0]


def _traced_drain(spark, run, c, work, tracer, ledger, warm_s):
    ref = workloads.Run(sample_memory=False)
    workloads.warm_up(spark, ref, c, work, warm_s, "stream")
    cpu = {}
    with proc_window(spark, cpu):
        workloads.measure_drain(spark, ref, c, work, 0)
    ledger.update(prefix_chain(spark, tracer, c))
    mark = sql_mark(spark)
    traced = _drain_traced(spark, c, work, tracer, ledger)
    _op_metrics(spark, ledger, mark)
    ledger.update(cpu)
    _merge(run, ref, traced)
    if ref.op_s and traced.op_s:
        ledger["trace.overhead_frac"] = traced.op_s[0] / ref.op_s[0] - 1


def _drain_traced(spark, c, work, tracer, ledger) -> workloads.Run:
    traced = workloads.Run(sample_memory=False)
    with tracer.span("jobs.drain") as op, stream_tracing(spark, tracer) as listener:
        workloads.measure_drain(spark, traced, c, work, 0, keep_output=True)
    _stream_ledger(tracer, listener, op, ledger)
    ledger.update(sink_counts(os.path.join(work, "drain1")))
    return traced


def _traced_rate(spark, run, c, work, tracer, ledger, warm_s):
    ref = workloads.Run(sample_memory=False)
    workloads.measure_rate(spark, ref, c, work, warm_s)
    ledger.update(prefix_chain(spark, tracer, c))
    mark = sql_mark(spark)
    traced = workloads.Run(sample_memory=False)
    cpu = {}
    with tracer.span("jobs.rate") as op, stream_tracing(spark, tracer) as listener, \
            proc_window(spark, cpu):
        res = workloads.measure_rate(spark, traced, c, work, warm_s)
    _op_metrics(spark, ledger, mark)
    ledger.update(cpu)
    _stream_ledger(tracer, listener, op, ledger)
    ledger.update(sink_counts(os.path.join(work, "out")))
    if res is not None:
        starts = {ev["batchId"]: workloads.batch_start(ev) for ev in listener.events}
        ledger["sources.input_lag_files_max"] = input_lag_files_max(
            res.drop_times, 2, starts,
            source_files_by_batch(os.path.join(work, "ckpt"), listener.events), since=res.t0)
    _merge(run, ref, traced)
    if ref.freshness and traced.freshness:
        ledger["trace.overhead_frac"] = (workloads.percentile(traced.freshness, 0.5)
                                         / workloads.percentile(ref.freshness, 0.5) - 1)
    run.facts.update(traced.facts)


def _stream_ledger(tracer, listener, op_span: int, ledger: dict) -> None:
    span = next(s for s in tracer.spans if s["id"] == op_span)
    batch_spans(tracer, listener.events, op_span)
    ledger.update(streaming_ledger(listener.events, tracer, span["end"] - span["start"]))


def _merge(run, *parts) -> None:
    for p in parts:
        run.attempted += p.attempted
        run.failed += p.failed
        run.errors.extend(p.errors)
        run.op_s.extend(p.op_s)
