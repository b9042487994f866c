"""Per-layer measurement for the benchmark: span tracer, executed-plan SQL
metric reader, scheduler counters, process-tree memory sampler and the
host probe.  Everything here observes the engine from outside — it calls
only public PySpark / JVM accessors and never changes a plan.
"""

from __future__ import annotations

import os
import re
import threading
import time
from contextlib import contextmanager

# ---------------------------------------------------------------------------
# spans
# ---------------------------------------------------------------------------


class Tracer:
    """In-memory span recorder.  A span is (trace id, span id, parent id,
    name, start, end); spans of one operation share the trace id of the
    operation's root span.  With ``enabled=False`` every call is a no-op so
    the untraced run pays nothing."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self._next = 0

    @contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield None
            return
        parent = self._stack[-1] if self._stack else None
        self._next += 1
        rec = {
            "trace": parent["trace"] if parent else self._next,
            "id": self._next,
            "parent": parent["id"] if parent else None,
            "name": name,
            "start": time.perf_counter(),
            "end": None,
            **attrs,
        }
        self._stack.append(rec)
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            self.spans.append(rec)

    def with_self_time(self) -> list[dict]:
        """Spans plus ``self_s``: duration minus the part of the interval
        covered by its direct children (overlapping children count once)."""
        kids: dict[int, list[tuple[float, float]]] = {}
        for s in self.spans:
            if s["parent"] is not None:
                kids.setdefault(s["parent"], []).append((s["start"], s["end"]))
        out = []
        for s in sorted(self.spans, key=lambda s: s["start"]):
            covered = 0.0
            cur_lo = cur_hi = None
            for lo, hi in sorted(kids.get(s["id"], [])):
                lo, hi = max(lo, s["start"]), min(hi, s["end"])
                if cur_hi is None or lo > cur_hi:
                    if cur_hi is not None:
                        covered += cur_hi - cur_lo
                    cur_lo, cur_hi = lo, hi
                else:
                    cur_hi = max(cur_hi, hi)
            if cur_hi is not None:
                covered += cur_hi - cur_lo
            dur = s["end"] - s["start"]
            out.append({**s, "dur_s": dur, "self_s": dur - covered})
        return out


# ---------------------------------------------------------------------------
# executed-plan SQL metrics
# ---------------------------------------------------------------------------

_METRIC_RE = re.compile(r"(\w+) -> SQLMetric\(id: \d+, name: .*?, value: (-?\d+)\)")

#: (category key, node-name test, SQL metric name, scale to the key's unit)
#:
#: Attribution rules:
#: - Values are Spark's task-time SUMS over all tasks of the query (CPU
#:   time across the cores), not wall time.  They are attributed to a
#:   layer, never subtracted from the operation's wall time.
#: - Nested codegen: ``codegen.pipeline_ms`` is the WholeStageCodegen
#:   stage's own duration, and operators fused inside it (aggregate time,
#:   scan time) report their time too, so the two overlap by design.
#: - Every physical node is counted once: a broadcast or shuffle reused
#:   through ReusedExchange is not walked again, so ``broadcast.build_ms``
#:   counts each broadcast build once, and a cached relation read twice in
#:   one plan counts the work that filled it once.
#: - Timings Spark keeps in nanoseconds are converted to milliseconds.
_RULES = [
    ("scan.rows", "Scan", "numOutputRows", 1.0),
    ("scan.bytes", "Scan", "filesSize", 1.0),
    ("scan.files", "Scan", "numFiles", 1.0),
    ("scan.time_ms", "Scan", "scanTime", 1.0),
    ("scan.partitions", "Scan", "numPartitions", 1.0),
    ("python.boot_ms", "Python", "pythonBootTime", 1.0),
    ("python.init_ms", "Python", "pythonInitTime", 1.0),
    ("python.total_ms", "Python", "pythonTotalTime", 1.0),
    ("python.bytes_sent", "Python", "pythonDataSent", 1.0),
    ("python.rows", "Python", "pythonNumRowsReceived", 1.0),
    ("shuffle.bytes_written", "Exchange", "shuffleBytesWritten", 1.0),
    ("shuffle.write_ms", "Exchange", "shuffleWriteTime", 1e-6),
    ("shuffle.records", "Exchange", "shuffleRecordsWritten", 1.0),
    ("broadcast.build_ms", "BroadcastExchange", "buildTime", 1.0),
    ("broadcast.bytes", "BroadcastExchange", "dataSize", 1.0),
    ("agg.time_ms", "Aggregate", "aggTime", 1.0),
    ("agg.peak_mem_bytes", "Aggregate", "peakMemory", 1.0),
    ("agg.spill_bytes", "Aggregate", "spillSize", 1.0),
    ("codegen.pipeline_ms", "WholeStageCodegen", "pipelineTime", 1.0),
]

PLAN_KEYS = sorted({r[0] for r in _RULES} - {"scan.partitions"})


def _node_matches(name: str, test: str) -> bool:
    if test == "Scan":
        return name.startswith("Scan ") or name.startswith("FileScan")
    if test == "Python":
        return "Python" in name or "Arrow" in name or "Pandas" in name
    if test == "Exchange":
        return name == "Exchange"
    if test == "Aggregate":
        return name.endswith("Aggregate")
    return name.startswith(test)


def _children(node) -> list:
    cls = node.getClass().getSimpleName()
    if cls == "AdaptiveSparkPlanExec":
        return [node.executedPlan()]
    if cls.endswith("QueryStageExec"):
        return [node.plan()]
    if cls == "ReusedExchangeExec":
        return []  # the reused exchange is counted where it first ran
    if cls == "InMemoryTableScanExec":
        # the plan that filled the cache: its work is attributed to every
        # operation that reads the cache, which in one pass is the one that
        # filled it
        return [node.relation().cachedPlan()]
    out = []
    it = node.children().iterator()
    while it.hasNext():
        out.append(it.next())
    return out


def read_plan(df) -> dict:
    """Walk ``df``'s executed plan (the AQE final plan once ``df`` has been
    collected), descend into every query stage, and sum SQL metrics per
    layer.  Also returns the join/explode row counts the operator ratios
    need: ``join_rows`` (output rows of the deepest join — the candidate
    set before any refine above it), ``gen_out``/``gen_in`` (rows out of
    and into the Generate with the largest fan-out — the ring cover where
    there is one) and ``cache_scans`` (in-memory scans)."""
    out = {k: 0.0 for k, *_ in _RULES}
    out.update(join_rows=0, gen_out=0, gen_in=0, cache_scans=0, nodes=0)
    # query stages number themselves per adaptive plan, so plan ids repeat
    # across the nested plans of cached relations: key nodes by identity
    identity = df.sparkSession._jvm.System.identityHashCode
    seen: set[int] = set()
    deepest_join = (-1, 0)
    widest_gen = (0.0, 0, 0)

    def rows_of(node) -> int | None:
        m = dict((k, int(v)) for k, v in _METRIC_RE.findall(node.metrics().toString()))
        return m.get("numOutputRows")

    def below_rows(node) -> int:
        """numOutputRows of the nearest descendant that reports it."""
        stack = _children(node)
        while stack:
            n = stack.pop(0)
            r = rows_of(n)
            if r is not None:
                return r
            stack = _children(n) + stack
        return 0

    def walk(node, depth: int) -> None:
        nonlocal deepest_join, widest_gen
        pid = identity(node)
        if pid in seen:
            return
        seen.add(pid)
        out["nodes"] += 1
        name = node.nodeName()
        metrics = {k: int(v) for k, v in _METRIC_RE.findall(node.metrics().toString())}
        for key, test, mname, scale in _RULES:
            if mname in metrics and _node_matches(name, test):
                out[key] += metrics[mname] * scale
        if "Join" in name and "numOutputRows" in metrics and depth > deepest_join[0]:
            deepest_join = (depth, metrics["numOutputRows"])
        if name.startswith("Generate"):
            g_out, g_in = metrics.get("numOutputRows", 0), below_rows(node)
            if g_in and g_out / g_in > widest_gen[0]:
                widest_gen = (g_out / g_in, g_out, g_in)
        if "InMemoryTableScan" in name:
            out["cache_scans"] += 1
        for child in _children(node):
            walk(child, depth + 1)

    walk(df._jdf.queryExecution().executedPlan(), 0)
    out["join_rows"] = deepest_join[1]
    out["gen_out"], out["gen_in"] = widest_gen[1], widest_gen[2]
    return out


# ---------------------------------------------------------------------------
# scheduler
# ---------------------------------------------------------------------------


def sched_counts(sc, group: str) -> dict:
    """Jobs, stages, tasks and failed tasks the scheduler ran under one job
    group (read from ``statusTracker`` after the group's work ended)."""
    st = sc.statusTracker()
    jobs = st.getJobIdsForGroup(group)
    stages = tasks = failed = 0
    for j in jobs:
        info = st.getJobInfo(j)
        if info is None:
            continue
        for s in info.stageIds:
            si = st.getStageInfo(s)
            if si is None:
                continue
            stages += 1
            tasks += si.numTasks
            failed += si.numFailedTasks
    return {"sched.jobs": len(jobs), "sched.stages": stages, "sched.tasks": tasks,
            "sched.tasks_failed": failed}


# ---------------------------------------------------------------------------
# memory and host
# ---------------------------------------------------------------------------

_PAGE = os.sysconf("SC_PAGE_SIZE")


def _proc_table() -> dict[int, tuple[int, int, int, int]]:
    """pid -> (parent pid, virtual size, resident bytes, CPU ticks) for
    every process.  CPU ticks are user + system time of the process and of
    the children it has reaped, so a Python worker that exited still
    counts, under the daemon that reaped it."""
    table = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        fields = stat[stat.rfind(")") + 2:].split()
        table[int(d)] = (int(fields[1]), int(fields[20]), int(fields[21]) * _PAGE,
                         sum(int(x) for x in fields[11:15]))
    return table


def _under(pid: int, root: int, table) -> bool:
    while pid and pid != root:
        pid = table[pid][0] if pid in table else 0
    return pid == root


def _same_image(a: tuple, b: tuple) -> bool:
    """Virtual size and resident set within 1% of each other."""
    return all(abs(x - y) <= 0.01 * max(x, y) for x, y in zip(a[1:3], b[1:3]))


def _tree_rss_bytes(root: int) -> int:
    """Resident bytes of ``root`` and all its descendants.  A child caught
    between fork and exec — the JVM spawns ``chmod`` for every file it
    writes — still maps its parent's memory and reports the parent's
    size; such a child (within 1% of its parent's virtual and resident
    size) is skipped so the sample does not count the parent twice."""
    table = _proc_table()
    total = 0
    for pid, entry in table.items():
        if not _under(pid, root, table):
            continue
        parent = table.get(entry[0])
        if pid != root and parent is not None and _same_image(entry, parent):
            continue
        total += entry[2]
    return total


def descendants(root: int) -> list[int]:
    table = _proc_table()
    return [pid for pid in table if pid != root and _under(pid, root, table)]


class RssSampler:
    """Background thread sampling the process tree's resident memory every
    ``interval`` seconds; ``peak_mb`` is the largest sum seen."""

    def __init__(self, interval: float = 0.25):
        self.interval = interval
        self.peak = 0
        self.tid = None
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self) -> None:
        me = os.getpid()
        while not self._stop.is_set():
            self.peak = max(self.peak, _tree_rss_bytes(me))
            self._stop.wait(self.interval)

    def __enter__(self):
        self._thread.start()
        self.tid = self._thread.native_id
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=10)
        self.peak = max(self.peak, _tree_rss_bytes(os.getpid()))

    @property
    def peak_mb(self) -> float:
        return self.peak / 2**20


_TICK = os.sysconf("SC_CLK_TCK")


def _thread_cpu_ticks(tid: int | None) -> int:
    if tid is None:
        return 0
    try:
        with open(f"/proc/self/task/{tid}/stat") as f:
            stat = f.read()
    except OSError:
        return 0
    return sum(int(x) for x in stat[stat.rfind(")") + 2:].split()[11:13])


def tree_cpu_s(exclude_tid: int | None = None) -> float:
    """CPU seconds (user + system) used so far by this process and every
    process under it — the Python driver, the Spark JVM with all its
    threads, the Python worker daemon and its workers — less the thread
    ``exclude_tid`` (the memory sampler, which is the benchmark's own
    work).  Time spent waiting for a CPU is not in it, so it moves far
    less than wall time when neighbours load the machine (README, "Why
    CPU time")."""
    me = os.getpid()
    table = _proc_table()
    ticks = sum(e[3] for pid, e in table.items() if _under(pid, me, table))
    return (ticks - _thread_cpu_ticks(exclude_tid)) / _TICK


def steal_s() -> float:
    """CPU seconds the hypervisor has taken from this machine's CPUs since
    boot (``steal`` in /proc/stat): the share of the host other guests
    used while this one wanted to run."""
    with open("/proc/stat") as f:
        return int(f.readline().split()[8]) / _TICK


def host_probe_s() -> float:
    """Fixed single-thread CPU loop (the same work as bench.py's probe):
    about 0.05 s on a quiet host, so a value near 2x marks a noisy window."""
    import numpy as np

    a = np.random.default_rng(0).random(8192)
    t0 = time.perf_counter()
    for _ in range(10_000):
        a = a * 0.9999999 + 1e-9
    return time.perf_counter() - t0
