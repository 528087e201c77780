"""The machine the benchmark runs on: sizing, environment and /proc readings.

Nothing here changes the validator's own defaults; the values are passed the
way a deployment would pass them (environment and master URL).
"""

from __future__ import annotations

import os
import re
import subprocess
import threading
import time

GIB = 1 << 30
PAGE = os.sysconf("SC_PAGE_SIZE")
TICK = os.sysconf("SC_CLK_TCK")


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def mem_total_bytes() -> int:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) * 1024
    raise RuntimeError("MemTotal missing from /proc/meminfo")


def derive_heap(mem_total: int) -> str:
    """A quarter of physical RAM in whole GiB, within [1, 8] GiB.

    The rest stays free for the Python workers, off-heap state and the other
    tenants of a shared host; the validator's own 48g default exceeds the RAM
    of a small host.
    """
    return f"{max(1, min(8, mem_total // 4 // GIB))}g"


def prepare_env(root: str, work: str) -> dict:
    """Deployment settings for a run on the local host; returns the facts recorded
    in every artifact (versions are added once the session is up)."""
    local_dirs = os.path.join(work, "spark-local")
    tmp = os.path.join(work, "tmp")
    for d in (local_dirs, tmp):
        os.makedirs(d, exist_ok=True)
    mem = mem_total_bytes()
    heap = derive_heap(mem)
    cpus = nproc()
    # Python workers import the package; without the repo on their path the
    # JSON-normalising pandas UDF fails with ModuleNotFoundError
    path = os.environ.get("PYTHONPATH", "")
    os.environ["PYTHONPATH"] = root + (os.pathsep + path if path else "")
    os.environ["SDV_DRIVER_MEM"] = heap
    os.environ["SPARK_LOCAL_DIRS"] = local_dirs
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    os.environ["TMPDIR"] = tmp
    # every JVM, the spark-submit launcher's too, keeps its scratch files here
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ.pop("SPARK_MASTER", None)
    os.environ.pop("SDV_STATE_STORE", None)
    return {
        "nproc": cpus,
        "mem_total_bytes": mem,
        "heap": heap,
        "master": f"local[{cpus}]",
        "git_head": git_head(root),
    }


def session_conf(work: str) -> dict[str, str]:
    """Keep Spark's scratch files inside the work directory."""
    return {
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.hadoop.hadoop.tmp.dir": os.path.join(work, "tmp"),
    }


def git_head(root: str) -> str | None:
    try:
        out = subprocess.run(["git", "-C", root, "rev-parse", "HEAD"],
                             capture_output=True, text=True, timeout=10)
    except (OSError, subprocess.TimeoutExpired):
        return None
    return out.stdout.strip() or None


def java_version() -> str | None:
    try:
        out = subprocess.run(["java", "-version"], capture_output=True, text=True, timeout=30)
    except (OSError, subprocess.TimeoutExpired):
        return None
    m = re.search(r'version "([^"]+)"', out.stderr)
    return m.group(1) if m else None


# ---- process tree readings --------------------------------------------------

def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        ppid = int(stat[stat.rindex(")") + 2:].split()[1])
        kids.setdefault(ppid, []).append(int(name))
    return kids


def descendants(pid: int) -> list[int]:
    """Every live process below ``pid``: the JVM and its Python workers."""
    kids = _children()
    out, todo = [], list(kids.get(pid, []))
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(kids.get(p, []))
    return out


def _stat_fields(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            stat = f.read()
    except OSError:
        return None
    return stat[stat.rindex(")") + 2:].split()


def identity(pid: int) -> tuple[int, str] | None:
    """``pid`` with its start time, which tells it from a later process that
    reuses the number."""
    fields = _stat_fields(pid)
    return (pid, fields[19]) if fields else None


def alive(ident: tuple[int, str]) -> bool:
    fields = _stat_fields(ident[0])
    return fields is not None and fields[19] == ident[1] and fields[0] != "Z"


def _cmdline(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/cmdline", "rb") as f:
            return f.read().replace(b"\0", b" ").decode(errors="replace")
    except OSError:
        return ""


def spark_procs(pid: int) -> list[int]:
    """The JVM started by ``pid`` and its Python workers.

    Other processes below the JVM are left out: it forks short-lived helpers
    (Hadoop shell commands) whose /proc entry shows the JVM's own command
    line and whole image until they exec, which would count the heap twice."""
    kids = _children()
    jvms = [p for p in kids.get(pid, []) if "SparkSubmit" in _cmdline(p)]
    procs, todo = list(jvms), list(jvms)
    while todo:
        p = todo.pop()
        for k in kids.get(p, []):
            todo.append(k)
            if "pyspark.daemon" in _cmdline(k):  # the workers' daemon and its forks
                procs.append(k)
    return procs


def spark_rss_bytes(pid: int) -> int:
    """Resident memory of the JVM started by ``pid`` plus its Python workers."""
    total = 0
    for p in spark_procs(pid):
        fields = _stat_fields(p)
        if fields:
            total += int(fields[21]) * PAGE
    return total


def _pss_bytes(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/smaps_rollup") as f:
            for line in f:
                if line.startswith("Pss:"):
                    return int(line.split()[1]) * 1024
    except OSError:
        pass
    return 0


def retained_bytes(spark, pid: int) -> int:
    """Memory the JVM started by ``pid`` and its Python workers keep after a
    full collection: the heap and non-heap (metaspace, code cache) the JVM
    has in use, from its memory bean, plus the workers' proportional set
    size (PSS), which counts the pages the forked workers share once.

    The first collection lets Spark's context cleaner release the broadcasts
    and shuffles the last operation left behind; the second, a second later,
    frees what that released (on a 4-core box 65-100 MB of heap after the
    first, 65-69 MB after the second).

    The JVM's resident memory would instead follow how much of the heap the
    collector keeps committed: after a full collection G1 keeps up to 70% of
    it free, so every MB of live data shows as about 3 MB, and what it had
    grown to before depends on the host's load."""
    bean = spark._jvm.java.lang.management.ManagementFactory.getMemoryMXBean()
    bean.gc()
    time.sleep(1.0)
    bean.gc()
    jvm = bean.getHeapMemoryUsage().getUsed() + bean.getNonHeapMemoryUsage().getUsed()
    workers = [p for p in spark_procs(pid) if "pyspark.daemon" in _cmdline(p)]
    return jvm + sum(_pss_bytes(p) for p in workers)


def tree_cpu_s(pid: int) -> float:
    """User+system CPU seconds of the live tree below ``pid``, including
    reaped children (cutime/cstime)."""
    ticks = 0
    for p in descendants(pid):
        fields = _stat_fields(p)
        if fields:
            ticks += sum(int(x) for x in fields[11:15])
    return ticks / TICK


class RssSampler:
    """Peak of :func:`spark_rss_bytes`, sampled on a background thread until
    :meth:`stop`."""

    def __init__(self, pid: int, period_s: float = 0.1):
        self.pid = pid
        self.period_s = period_s
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, name="rss-sampler", daemon=True)

    def _loop(self) -> None:
        while not self._stop.is_set():
            self.peak = max(self.peak, spark_rss_bytes(self.pid))
            self._stop.wait(self.period_s)

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self.stop()

    def stop(self) -> None:
        self._stop.set()
        self._thread.join(timeout=5)
        self.peak = max(self.peak, spark_rss_bytes(self.pid))
