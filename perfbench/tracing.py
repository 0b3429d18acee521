"""Process accounting and per-layer tracing for the benchmark.

* ``ProcTree`` reads CPU time and resident memory of this process and
  every descendant (the Spark JVM and its Python workers) from /proc.
* ``Tracer`` wraps named package functions so each call becomes a span:
  it tags the Spark jobs the call submits with a job description, times
  the call, and, for a DataFrame result, forces it once (persist +
  count) under the same tag, so the layer's own execution is measured
  where it happens instead of inside whichever later action would have
  run it.
* ``parse_event_log`` turns Spark's uncompressed event log into
  per-span job, stage and task counters.

Spans are kept in memory and folded into per-layer counters after the
Spark context has stopped, when the event log is complete.
"""

from __future__ import annotations

import json
import os
import threading
import time
from dataclasses import dataclass

_CLK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")
TAG = "perfbench:"
COUNTERS = (
    "wall_s", "construct_s", "driver_s", "jobs", "shuffle_write_bytes",
    "spill_bytes", "executor_cpu_s", "rows_out",
)


def _stat(pid: int) -> tuple[int, float, int] | None:
    """(ppid, cpu seconds incl. reaped children, rss bytes) of one pid."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:
        return None
    # the command name may hold spaces; fields restart after its ')'
    rest = raw[raw.rindex(")") + 2:].split()
    ppid = int(rest[1])
    cpu = sum(int(v) for v in rest[11:15]) / _CLK  # utime stime cutime cstime
    rss = int(rest[21]) * _PAGE
    return ppid, cpu, rss


def _exe(pid: int) -> str | None:
    try:
        return os.readlink(f"/proc/{pid}/exe")
    except OSError:
        return None


class ProcTree:
    """CPU and memory of this process and its descendants. A process's
    ``cutime``/``cstime`` carry the CPU of children it has reaped, so a
    Python worker that exits mid-run is still counted, via the daemon
    that forked it."""

    def __init__(self, root: int | None = None):
        self.root = root or os.getpid()

    def snapshot(self) -> dict[int, tuple[float, int]]:
        """{pid: (cpu s, rss bytes)} of the tree. A JVM child that still
        runs the JVM's executable is a fork that has not yet exec'd the
        command the JVM runs (Hadoop shells out for file permissions): its
        RSS is the parent's pages, so it is counted with none. (Its name
        cannot tell: a fork takes the name of the JVM thread that made
        it.)"""
        stats = {}
        for name in os.listdir("/proc"):
            if name.isdigit():
                s = _stat(int(name))
                if s is not None:
                    stats[int(name)] = s
        keep, frontier = {}, [self.root]
        while frontier:
            pid = frontier.pop()
            if pid in stats and pid not in keep:
                ppid, cpu, rss = stats[pid]
                parent_exe = _exe(ppid) if ppid in keep else None
                forked = parent_exe is not None and parent_exe.endswith("/java") \
                    and _exe(pid) == parent_exe
                keep[pid] = (cpu, 0 if forked else rss)
                frontier += [p for p, s in stats.items() if s[0] == pid]
        return keep

    def cpu_s(self, exclude: tuple[int, ...] = ()) -> float:
        return sum(c for p, (c, _) in self.snapshot().items() if p not in exclude)

    def rss_bytes(self) -> int:
        return sum(r for _, r in self.snapshot().values())


class PeakRss:
    """Samples the tree's summed RSS every ``period`` seconds on a
    background thread while the ``with`` block runs."""

    def __init__(self, tree: ProcTree, period: float = 0.1):
        self.tree, self.period, self.peak = tree, period, 0
        self.at_peak: list[int] = []
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _sample(self) -> None:
        snap = self.tree.snapshot()
        total = sum(r for _, r in snap.values())
        if total > self.peak:
            self.peak = total
            # RSS of each process at the peak, largest first
            self.at_peak = sorted((r for _, r in snap.values()), reverse=True)

    def _run(self) -> None:
        while not self._stop.is_set():
            self._sample()
            self._stop.wait(self.period)

    def __enter__(self) -> "PeakRss":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=10)
        self._sample()


@dataclass
class Span:
    sid: int
    layer: str
    start: float
    end: float = 0.0
    construct_s: float = 0.0
    worker_cpu_s: float = 0.0
    rows_out: int | None = None
    args: tuple = ()


class Tracer:
    """Wraps package functions so each call is a span (see module doc).

    ``instrument(module, name, layer)`` replaces ``module.name`` and every
    other already-imported package module attribute bound to the same
    function object, so callers that did ``from x import f`` are traced
    too. ``restore()`` undoes every replacement."""

    def __init__(self, spark, jvm_pid: int):
        self.sc = spark.sparkContext
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._patched: list[tuple[object, str, object]] = []
        self._forced: list = []
        self._jvm = jvm_pid

    def _worker_cpu(self) -> float:
        # Python workers: every descendant of the JVM
        return ProcTree(self._jvm).cpu_s(exclude=(self._jvm,))

    def _tag(self, span: Span | None) -> None:
        self.sc.setLocalProperty(
            "spark.job.description", f"{TAG}{span.sid}" if span else None
        )

    def call(self, layer: str, fn, *args, **kwargs):
        from pyspark.sql import DataFrame

        span = Span(len(self.spans), layer, time.time(), args=args)
        self.spans.append(span)
        self._stack.append(span)
        self._tag(span)
        cpu0 = self._worker_cpu()
        try:
            out = fn(*args, **kwargs)
            span.construct_s = time.time() - span.start
            if isinstance(out, DataFrame):
                out = out.persist()
                self._forced.append(out)
                span.rows_out = out.count()
            elif isinstance(out, (list, dict)):
                span.rows_out = len(out)
            return out
        finally:
            span.end = time.time()
            span.worker_cpu_s = self._worker_cpu() - cpu0
            self._stack.pop()
            self._tag(self._stack[-1] if self._stack else None)

    def wrap(self, layer: str, fn):
        def traced(*args, **kwargs):
            return self.call(layer, fn, *args, **kwargs)

        traced.__wrapped__ = fn
        return traced

    def instrument(self, module, name: str, layer: str | None,
                   replacement=None) -> None:
        import sys

        original = getattr(module, name)
        traced = replacement or self.wrap(layer, original)
        for mod in list(sys.modules.values()):
            if not getattr(mod, "__name__", "").startswith("turbine_maintenance_etl_spark"):
                continue
            for attr, val in list(vars(mod).items()):
                if val is original:
                    self._patched.append((mod, attr, val))
                    setattr(mod, attr, traced)

    def restore(self) -> None:
        for mod, attr, val in reversed(self._patched):
            setattr(mod, attr, val)
        self._patched.clear()

    def release(self) -> None:
        """Unpersist the frames forced by spans."""
        for df in self._forced:
            df.unpersist()
        self._forced.clear()


@dataclass
class JobRec:
    start: float
    end: float
    sid: int | None


def parse_event_log(path: str) -> tuple[dict[int, JobRec], dict[int, dict]]:
    """Jobs (submit/end time in s, span id) and per-stage task totals
    from an uncompressed Spark event log."""
    jobs: dict[int, JobRec] = {}
    stage_job: dict[int, int] = {}
    stages: dict[int, dict] = {}
    with open(path) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                desc = (ev.get("Properties") or {}).get("spark.job.description") or ""
                sid = int(desc[len(TAG):]) if desc.startswith(TAG) else None
                jid = ev["Job ID"]
                jobs[jid] = JobRec(ev["Submission Time"] / 1e3, ev["Submission Time"] / 1e3, sid)
                for st in ev.get("Stage IDs", []):
                    stage_job.setdefault(st, jid)
            elif kind == "SparkListenerJobEnd":
                jobs[ev["Job ID"]].end = ev["Completion Time"] / 1e3
            elif kind == "SparkListenerTaskEnd":
                m = ev.get("Task Metrics") or {}
                s = stages.setdefault(ev["Stage ID"], {
                    "cpu_ns": 0, "shuffle_write_bytes": 0, "spill_bytes": 0,
                    "peak_exec_mem_bytes": 0, "bytes_written": 0, "records_written": 0,
                })
                s["cpu_ns"] += m.get("Executor CPU Time", 0)
                s["shuffle_write_bytes"] += (m.get("Shuffle Write Metrics") or {}).get(
                    "Shuffle Bytes Written", 0)
                s["spill_bytes"] += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
                s["peak_exec_mem_bytes"] = max(
                    s["peak_exec_mem_bytes"], m.get("Peak Execution Memory", 0))
                out = m.get("Output Metrics") or {}
                s["bytes_written"] += out.get("Bytes Written", 0)
                s["records_written"] += out.get("Records Written", 0)
    for st, s in stages.items():
        s["job"] = stage_job.get(st)
    return jobs, stages


def _covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
    total, cur_lo, cur_hi = 0.0, None, None
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= a:
            continue
        if cur_hi is None or a > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = a, b
        else:
            cur_hi = max(cur_hi, b)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


def layer_counters(spans: list[Span], jobs: dict[int, JobRec],
                   stages: dict[int, dict]) -> dict[str, dict[str, float]]:
    """Fold spans and event-log records into counters per layer, summed
    over that layer's calls. A job counts for the innermost span that
    was open when it was submitted."""
    by_span: dict[int, list[JobRec]] = {}
    for j in jobs.values():
        if j.sid is not None:
            by_span.setdefault(j.sid, []).append(j)
    stage_span = {
        st: jobs[s["job"]].sid for st, s in stages.items() if s.get("job") in jobs
    }
    out: dict[str, dict[str, float]] = {}
    for sp in spans:
        c = out.setdefault(sp.layer, {k: 0 for k in COUNTERS} | {
            "calls": 0, "peak_exec_mem_bytes": 0, "bytes_written": 0,
            "records_written": 0, "worker_cpu_s": 0.0})
        own = by_span.get(sp.sid, [])
        wall = sp.end - sp.start
        c["calls"] += 1
        c["wall_s"] += wall
        c["construct_s"] += sp.construct_s
        c["driver_s"] += wall - _covered([(j.start, j.end) for j in own], sp.start, sp.end)
        c["jobs"] += len(own)
        c["worker_cpu_s"] += sp.worker_cpu_s
        c["executor_cpu_s"] += sp.worker_cpu_s
        for st, sid in stage_span.items():
            if sid == sp.sid:
                s = stages[st]
                if sp.rows_out is None:  # a sink: count what it wrote
                    c["rows_out"] += s["records_written"]
                c["executor_cpu_s"] += s["cpu_ns"] / 1e9
                c["shuffle_write_bytes"] += s["shuffle_write_bytes"]
                c["spill_bytes"] += s["spill_bytes"]
                c["bytes_written"] += s["bytes_written"]
                c["records_written"] += s["records_written"]
                c["peak_exec_mem_bytes"] = max(c["peak_exec_mem_bytes"], s["peak_exec_mem_bytes"])
        c["rows_out"] += sp.rows_out or 0
    return out
