"""Measurement helpers: spans, Spark's own accounting, streaming progress,
resident memory, and the statistics the benchmark reports.

Spans are recorded from the benchmark's own files around each call into a
layer of the engine; nothing inside the package is instrumented. A span
keeps the Spark job-id and SQL-execution-id marks taken at its start and
end, so the counters Spark keeps in its status store can be attributed to
it after the run — job groups cannot do this, because `cli.main` runs its
pipeline body on a harness thread.
"""

from __future__ import annotations

import os
import re
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

METRIC_NAME_RE = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")


def median(xs: list[float]) -> float:
    s = sorted(xs)
    n = len(s)
    if not n:
        raise ValueError("median of no samples")
    return s[n // 2] if n % 2 else (s[n // 2 - 1] + s[n // 2]) / 2.0


def percentile(xs: list[float], p: float) -> float:
    """Nearest-rank percentile."""
    s = sorted(xs)
    if not s:
        raise ValueError("percentile of no samples")
    k = max(1, -(-len(s) * p // 100))
    return s[int(min(k, len(s))) - 1]


def parse_metric_value(text: str) -> float:
    """A SQL-metric value as the status store renders it ('1,000',
    '992.0 B', '5.8 s', or 'total (min, med, max ...)\\n1.2 KiB (...)')
    converted to a plain number: bytes, seconds or a count."""
    line = text.split("\n")[-1] if "\n" in text else text
    tok = line.split(" (")[0].strip().replace(",", "")
    parts = tok.split()
    if not parts:
        return 0.0
    try:
        value = float(parts[0])
    except ValueError:
        return 0.0
    unit = parts[1] if len(parts) > 1 else ""
    scale = {
        "B": 1, "KiB": 1024, "MiB": 1024**2, "GiB": 1024**3, "TiB": 1024**4,
        "ns": 1e-9, "ms": 1e-3, "s": 1.0, "m": 60.0, "min": 60.0, "h": 3600.0,
    }.get(unit, 1.0)
    return value * scale


@dataclass
class Span:
    name: str
    parent: int | None
    t0: float
    t1: float = 0.0
    w0: float = 0.0
    w1: float = 0.0
    marks0: tuple[int, int] = (0, 0)
    marks1: tuple[int, int] = (0, 0)
    out_rows: int = 0
    c0: float = 0.0
    c1: float = 0.0

    @property
    def dur(self) -> float:
        return self.t1 - self.t0

    @property
    def cpu(self) -> float:
        return self.c1 - self.c0


@dataclass
class Tracer:
    """In-memory span recorder. With `enabled` False it only times the
    call and the CPU the process tree used during it (no Spark marks),
    which is how untraced runs measure."""

    spark: object
    enabled: bool
    spans: list[Span] = field(default_factory=list)
    bookkeeping_s: float = 0.0
    _stack: list[int] = field(default_factory=list)

    def marks(self) -> tuple[int, int]:
        """(next job id, next SQL execution id) after the listener bus has
        drained, so every event of finished work is in the status store."""
        b0 = time.perf_counter()
        jsc = self.spark.sparkContext._jsc.sc()
        jsc.listenerBus().waitUntilEmpty()
        job_ids = self.spark.sparkContext.statusTracker().getJobIdsForGroup(None)
        sql = self.spark._jsparkSession.sharedState().statusStore()
        n = sql.executionsCount()
        last = -1
        if n:
            execs = sql.executionsList(int(n) - 1, 1)
            if execs.size():
                last = execs.apply(0).executionId()
        self.bookkeeping_s += time.perf_counter() - b0
        return (max(job_ids, default=-1) + 1, int(last) + 1)

    @contextmanager
    def span(self, name: str):
        parent = self._stack[-1] if self._stack else None
        m0 = self.marks() if self.enabled else (0, 0)
        c0 = tree_cpu_s(os.getpid())
        sp = Span(name, parent, time.perf_counter(), w0=time.time(), marks0=m0, c0=c0)
        self.spans.append(sp)
        self._stack.append(len(self.spans) - 1)
        try:
            yield sp
        finally:
            sp.t1 = time.perf_counter()
            sp.w1 = time.time()
            sp.c1 = tree_cpu_s(os.getpid())
            self._stack.pop()
            if self.enabled:
                sp.marks1 = self.marks()

    def dump(self) -> dict:
        """Every span with its self time (duration minus the part its child
        spans cover; children never overlap: one client thread), and the
        self time summed per span name."""
        child = [0.0] * len(self.spans)
        for sp in self.spans:
            if sp.parent is not None:
                child[sp.parent] += sp.dur
        spans = [
            {"id": i, "name": sp.name, "parent": sp.parent, "start": sp.w0, "end": sp.w1,
             "self_s": sp.dur - child[i], "jobs": [sp.marks0[0], sp.marks1[0]],
             "executions": [sp.marks0[1], sp.marks1[1]]}
            for i, sp in enumerate(self.spans)
        ]
        by_name: dict[str, float] = {}
        for s in spans:
            by_name[s["name"]] = by_name.get(s["name"], 0.0) + s["self_s"]
        return {"spans": spans, "self_s": by_name}


def _jiter(seq):
    it = seq.iterator()
    while it.hasNext():
        yield it.next()


@dataclass
class StageRow:
    stage_id: int
    tasks: int
    run_s: float
    cpu_s: float
    gc_s: float
    shuffle_write: int
    shuffle_read: int
    spill: int
    start_ms: int
    end_ms: int


class SparkLedger:
    """One bulk read of the status store after the run: jobs (with their
    stage ids), completed stages with task metrics, and every SQL
    execution's plan nodes with their metric values."""

    def __init__(self, spark) -> None:
        jsc = spark.sparkContext._jsc.sc()
        jsc.listenerBus().waitUntilEmpty()
        store = jsc.statusStore()
        self.job_stages: dict[int, list[int]] = {}
        for j in _jiter(store.jobsList(None)):
            self.job_stages[int(j.jobId())] = [int(s) for s in _jiter(j.stageIds())]
        jvm = spark._jvm
        quantiles = spark.sparkContext._gateway.new_array(jvm.double, 0)
        self.stages: dict[int, StageRow] = {}
        for s in _jiter(store.stageList(None, False, False, quantiles, jvm.java.util.ArrayList())):
            if s.status().toString() != "COMPLETE":
                continue
            sub, comp = s.submissionTime(), s.completionTime()
            self.stages[int(s.stageId())] = StageRow(
                stage_id=int(s.stageId()),
                tasks=int(s.numCompleteTasks()),
                run_s=s.executorRunTime() / 1e3,
                cpu_s=s.executorCpuTime() / 1e9,
                gc_s=s.jvmGcTime() / 1e3,
                shuffle_write=int(s.shuffleWriteBytes()),
                shuffle_read=int(s.shuffleReadBytes()),
                spill=int(s.diskBytesSpilled()),
                start_ms=int(sub.get().getTime()) if sub.isDefined() else 0,
                end_ms=int(comp.get().getTime()) if comp.isDefined() else 0,
            )
        self._sql = spark._jsparkSession.sharedState().statusStore()
        self._graphs: dict[int, list] = {}
        self._metrics: dict[int, dict[str, float]] = {}

    def nodes(self, exec_id: int, want) -> list[tuple[str, dict[str, float]]]:
        """[(node name, {metric name: value})] for the plan nodes of one SQL
        execution whose name satisfies `want` (metric values are fetched
        only for those: each value is a round trip to the JVM)."""
        if exec_id not in self._graphs:
            try:
                self._graphs[exec_id] = [
                    (n.name(), n) for n in _jiter(self._sql.planGraph(exec_id).allNodes())
                ]
            except Exception:  # noqa: BLE001 — an evicted execution has no graph
                self._graphs[exec_id] = []
        out = []
        for name, n in self._graphs[exec_id]:
            if not want(name):
                continue
            key = n.id() * 1_000_003 + exec_id
            if key not in self._metrics:
                values = self._sql.executionMetrics(exec_id)
                ms: dict[str, float] = {}
                for m in _jiter(n.metrics()):
                    v = values.get(m.accumulatorId())
                    if v.isDefined():
                        ms[m.name()] = parse_metric_value(v.get())
                self._metrics[key] = ms
            out.append((name, self._metrics[key]))
        return out

    def jobs_in(self, lo: int, hi: int) -> list[int]:
        return [j for j in range(lo, hi) if j in self.job_stages]

    def stages_in(self, lo: int, hi: int) -> list[StageRow]:
        seen: set[int] = set()
        rows = []
        for j in self.jobs_in(lo, hi):
            for s in self.job_stages[j]:
                if s in self.stages and s not in seen:
                    seen.add(s)
                    rows.append(self.stages[s])
        return rows


def busy_union_s(stages: list[StageRow], t0_ms: float, t1_ms: float) -> float:
    """Seconds of [t0, t1] during which at least one stage was active."""
    iv = sorted(
        (max(s.start_ms, t0_ms), min(s.end_ms, t1_ms))
        for s in stages if s.end_ms > t0_ms and s.start_ms < t1_ms
    )
    total, cur_a, cur_b = 0.0, None, None
    for a, b in iv:
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total / 1e3


class StreamProgress:
    """Collects StreamingQueryListener progress events (one per trigger)."""

    def __init__(self, spark) -> None:
        from pyspark.sql.streaming import StreamingQueryListener

        self.batches: list[dict] = []
        batches = self.batches

        class _Listener(StreamingQueryListener):
            def onQueryStarted(self, event):  # noqa: N802 — pyspark API
                pass

            def onQueryProgress(self, event):  # noqa: N802
                p = event.progress
                batches.append({
                    "rows": int(p.numInputRows),
                    **{k: float(v) / 1e3 for k, v in (p.durationMs or {}).items()},
                })

            def onQueryIdle(self, event):  # noqa: N802
                pass

            def onQueryTerminated(self, event):  # noqa: N802
                pass

        self._listener = _Listener()
        self._spark = spark
        spark.streams.addListener(self._listener)

    def flush(self) -> None:
        self._spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()

    def close(self) -> None:
        self._spark.streams.removeListener(self._listener)


def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat", "rb") as f:
                stat = f.read()
        except OSError:
            continue
        ppid = int(stat[stat.rindex(b")") + 2:].split()[1])
        kids.setdefault(ppid, []).append(int(d))
    return kids


def _hwm_bytes(pid: int) -> int:
    """Peak resident set of one process (VmHWM), 0 if it has exited."""
    try:
        with open(f"/proc/{pid}/status", "rb") as f:
            for line in f:
                if line.startswith(b"VmHWM:"):
                    return int(line.split()[1]) * 1024
    except OSError:
        pass
    return 0


def _tree(root: int) -> list[int]:
    """`root` and all its descendants."""
    kids = _children_map()
    out, todo = [], [root]
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(kids.get(p, ()))
    return out


def tree_peak_rss_bytes(root: int) -> int:
    """Sum of the peak resident sets of `root` and all its descendants: the
    driver JVM plus the Python daemon and the workers it forked, which
    live until the context stops."""
    return sum(_hwm_bytes(p) for p in _tree(root))


def _cpu_ticks(pid: int) -> int:
    """utime + stime + cutime + cstime of one process, 0 if it has exited."""
    try:
        with open(f"/proc/{pid}/stat", "rb") as f:
            stat = f.read()
    except OSError:
        return 0
    return sum(int(x) for x in stat[stat.rindex(b")") + 2:].split()[11:15])


def tree_cpu_s(root: int) -> float:
    """CPU seconds used so far by `root` and all its descendants, with the
    children they have reaped: this process, the driver JVM, and the Python
    daemon and workers the JVM forked."""
    return sum(_cpu_ticks(p) for p in _tree(root)) / os.sysconf("SC_CLK_TCK")


def dir_usage(path: str) -> tuple[int, int]:
    """(files, bytes) under `path`, excluding hidden bookkeeping files
    (Hadoop .crc checksums)."""
    n = size = 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            if f.startswith("."):
                continue
            n += 1
            size += os.path.getsize(os.path.join(root, f))
    return n, size


def process_age_s() -> float:
    """Seconds since this process started (from /proc, clock-tick precision)."""
    with open("/proc/self/stat", "rb") as f:
        stat = f.read()
    start_ticks = int(stat[stat.rindex(b")") + 2:].split()[19])
    with open("/proc/uptime", "rb") as f:
        uptime = float(f.read().split()[0])
    return uptime - start_ticks / os.sysconf("SC_CLK_TCK")
