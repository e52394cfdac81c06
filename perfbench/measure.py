"""Measurement code of the benchmark: percentiles, open-loop accounting,
spool-file-to-micro-batch mapping, spans, Spark event-log parsing, process
tree RSS and FitCache entry counting. Nothing here imports Spark, so the
tests run without a JVM.
"""

from __future__ import annotations

import json
import math
import os
import statistics
import threading
import time
from dataclasses import dataclass, field


# --- percentiles -----------------------------------------------------------------

def median(values) -> float:
    return float(statistics.median(values))


def tail_percentile(values, min_beyond: int = 10) -> tuple[float, float, int] | None:
    """The highest percentile that has at least ``min_beyond`` samples
    strictly above it, as ``(percentile, value, n)``; None when fewer than
    ``2 * min_beyond`` samples leave no percentile above the median.

    The value is the sample of rank ``n - min_beyond`` (1-based) in sorted
    order, so exactly ``min_beyond`` samples sit above it when values are
    distinct; its percentile is that rank's share of n."""
    xs = sorted(values)
    n = len(xs)
    if n < 2 * min_beyond:
        return None
    rank = n - min_beyond
    return 100.0 * rank / n, float(xs[rank - 1]), n


def percentile_at(values, pct: float, min_beyond: int = 10) -> float | None:
    """The ``pct`` percentile (nearest rank), or None when fewer than
    ``min_beyond`` samples lie beyond it: the sample does not support it."""
    xs = sorted(values)
    n = len(xs)
    if n == 0:
        return None
    rank = max(1, math.ceil(pct / 100.0 * n))
    if n - rank < min_beyond:
        return None
    return float(xs[rank - 1])


# --- open-loop schedule --------------------------------------------------------

@dataclass
class DueFile:
    index: int  # 0-based spool file number; the stream offset counts files
    due: float  # epoch seconds the schedule wanted it written
    written: float = 0.0  # epoch seconds it became visible (after rename)
    rows: int = 0

    @property
    def lag(self) -> float:
        return max(0.0, self.written - self.due)


def due_times(start: float, interval: float, n: int) -> list[float]:
    """Fixed-rate schedule: file i is due at start + i * interval, whatever
    happened to earlier files (open loop: a stall delays nothing that
    follows in the schedule, it only makes later files late)."""
    return [start + i * interval for i in range(n)]


def generator_lag(files: list[DueFile], interval: float) -> dict:
    lags = [f.lag for f in files]
    return {
        "max_s": max(lags, default=0.0),
        "median_s": median(lags) if lags else 0.0,
        "late_files": sum(1 for f in files if f.lag > 0.5 * interval),
    }


# --- micro-batches from streaming progress -----------------------------------

@dataclass
class Batch:
    batch_id: int
    start: float  # epoch seconds the trigger began
    end: float  # epoch seconds the trigger ended (the commit)
    start_files: int  # source offset before the batch: files consumed so far
    end_files: int  # source offset after it
    rows: int
    durations_ms: dict = field(default_factory=dict)


def files_offset(off) -> int:
    if off is None:
        return 0
    if isinstance(off, str):
        off = json.loads(off)
    return int(off.get("n_files", 0))


def _epoch(ts: str) -> float:
    """Progress timestamps are ISO-8601 UTC with milliseconds and a Z."""
    import datetime as dt

    return dt.datetime.strptime(ts, "%Y-%m-%dT%H:%M:%S.%fZ").replace(tzinfo=dt.timezone.utc).timestamp()


def batches_from_progress(progress: list[dict]) -> list[Batch]:
    """One :class:`Batch` per progress record that read data. The envelope
    source's offset is ``{"n_files": k}``: the count of spool files consumed,
    so a batch covers files ``start_files .. end_files - 1``."""
    out = []
    for p in progress:
        src = (p.get("sources") or [{}])[0]
        lo, hi = files_offset(src.get("startOffset")), files_offset(src.get("endOffset"))
        if hi <= lo:
            continue
        d = p.get("durationMs") or {}
        start = _epoch(p["timestamp"])
        out.append(Batch(
            batch_id=int(p["batchId"]), start=start, end=start + d.get("triggerExecution", 0) / 1000.0,
            start_files=lo, end_files=hi, rows=int(p.get("numInputRows", 0)), durations_ms=dict(d),
        ))
    return sorted(out, key=lambda b: b.batch_id)


def commit_latencies(files: list[DueFile], batches: list[Batch]) -> dict[int, float]:
    """Per spool file: from when it was due to the end of the micro-batch
    whose source offsets cover it. Files no batch covers are missing from
    the result (the caller counts them as lost)."""
    out = {}
    for b in batches:
        for f in files:
            if b.start_files <= f.index < b.end_files and f.index not in out:
                out[f.index] = b.end - f.due
    return out


# --- spans ---------------------------------------------------------------------

@dataclass
class Span:
    span_id: str
    name: str
    parent: str | None
    start: float
    end: float = 0.0
    attrs: dict = field(default_factory=dict)

    @property
    def duration(self) -> float:
        return self.end - self.start


class Tracer:
    """In-memory spans. ``span()`` returns a context manager; with
    ``spark_context`` set, every span tags the jobs it submits with its id
    as the job group, so the event log attributes them."""

    def __init__(self, spark_context=None):
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self.sc = spark_context

    def span(self, name: str, **attrs):
        return _SpanCtx(self, name, attrs)

    def add(self, name: str, parent: Span, start: float, end: float, **attrs) -> Span:
        """Record a finished span known only after the fact, such as a
        streaming micro-batch read back from the query's progress."""
        s = Span(f"s{len(self.spans)}", name, parent.span_id, start, end, attrs)
        self.spans.append(s)
        return s

    def self_time(self, span: Span) -> float:
        return span.duration - covered(
            [(c.start, c.end) for c in self.spans if c.parent == span.span_id], span.start, span.end)


class _SpanCtx:
    def __init__(self, tracer: Tracer, name: str, attrs: dict):
        self.t, self.name, self.attrs = tracer, name, attrs

    def __enter__(self) -> Span:
        t = self.t
        parent = t._stack[-1] if t._stack else None
        s = Span(f"s{len(t.spans)}", self.name, parent.span_id if parent else None, time.time(), attrs=self.attrs)
        t.spans.append(s)
        t._stack.append(s)
        if t.sc is not None:
            t.sc.setJobGroup(s.span_id, self.name)
        return s

    def __exit__(self, *exc):
        t = self.t
        s = t._stack.pop()
        s.end = time.time()
        if t.sc is not None:
            if t._stack:
                t.sc.setJobGroup(t._stack[-1].span_id, t._stack[-1].name)
            else:
                t.sc.setLocalProperty("spark.jobGroup.id", None)
        return False


def covered(intervals, lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted((max(lo, s), min(hi, e)) for s, e in intervals):
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


# --- Spark event log -------------------------------------------------------------

@dataclass
class Job:
    job_id: int
    submit: float  # epoch seconds
    group: str | None
    batch_id: int | None
    stage_ids: list[int]


@dataclass
class StageStats:
    stage_id: int
    tasks: int = 0
    run_s: float = 0.0
    cpu_s: float = 0.0
    gc_s: float = 0.0
    shuffle_read: int = 0
    shuffle_write: int = 0
    spill: int = 0
    input_rows: int = 0


@dataclass
class EventLog:
    jobs: dict[int, Job] = field(default_factory=dict)
    stages: dict[int, StageStats] = field(default_factory=dict)


def _log_files(path: str) -> list[str]:
    """An event log is one file, or (rolling format) a directory of
    ``events_<n>_<appId>`` parts read in part order."""
    if os.path.isfile(path):
        return [path]
    parts = [f for f in os.listdir(path) if f.startswith("events_")]
    return [os.path.join(path, f) for f in sorted(parts, key=lambda f: int(f.split("_")[1]))]


def parse_event_log(path: str) -> EventLog:
    log = EventLog()
    for fp in _log_files(path):
        with open(fp, encoding="utf-8") as fh:
            for line in fh:
                _consume(log, json.loads(line))
    return log


def _consume(log: EventLog, ev: dict) -> None:
    kind = ev.get("Event")
    if kind == "SparkListenerJobStart":
        props = ev.get("Properties") or {}
        batch = props.get("streaming.sql.batchId")
        log.jobs[ev["Job ID"]] = Job(
            job_id=ev["Job ID"], submit=ev["Submission Time"] / 1000.0,
            group=props.get("spark.jobGroup.id"),
            batch_id=int(batch) if batch is not None else None,
            stage_ids=list(ev.get("Stage IDs") or []),
        )
    elif kind == "SparkListenerTaskEnd":
        st = log.stages.setdefault(ev["Stage ID"], StageStats(ev["Stage ID"]))
        m = ev.get("Task Metrics") or {}
        st.tasks += 1
        st.run_s += m.get("Executor Run Time", 0) / 1000.0
        st.cpu_s += m.get("Executor CPU Time", 0) / 1e9
        st.gc_s += m.get("JVM GC Time", 0) / 1000.0
        sr = m.get("Shuffle Read Metrics") or {}
        st.shuffle_read += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
        st.shuffle_write += (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
        st.spill += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
        st.input_rows += (m.get("Input Metrics") or {}).get("Records Read", 0)


def attribute_jobs(log: EventLog, spans: list[Span]) -> dict[str, list[Job]]:
    """Jobs per span id: by job group when it names a span, then by the
    streaming batch id of a span with that ``batch_id`` attribute, else the
    innermost span whose interval holds the job's submission time (jobs a
    streaming micro-batch submits run on the stream's own thread, which
    carries no job group)."""
    by_id = {s.span_id: s for s in spans}
    by_batch = {s.attrs["batch_id"]: s.span_id for s in spans if "batch_id" in s.attrs}
    out: dict[str, list[Job]] = {s.span_id: [] for s in spans}
    for job in log.jobs.values():
        if job.group in by_id:
            out[job.group].append(job)
            continue
        if job.batch_id in by_batch:
            out[by_batch[job.batch_id]].append(job)
            continue
        holders = [s for s in spans if s.start <= job.submit <= s.end]
        if holders:
            out[max(holders, key=lambda s: s.start).span_id].append(job)
    return out


def spark_totals(log: EventLog, jobs: list[Job]) -> dict:
    stage_ids = {sid for j in jobs for sid in j.stage_ids if sid in log.stages}
    stages = [log.stages[s] for s in stage_ids]
    return {
        "jobs": len(jobs),
        "stages": len(stages),
        "single_task_stages": sum(1 for s in stages if s.tasks == 1),
        "tasks": sum(s.tasks for s in stages),
        "task_run_s": sum(s.run_s for s in stages),
        "task_cpu_s": sum(s.cpu_s for s in stages),
        "gc_s": sum(s.gc_s for s in stages),
        "shuffle_read_bytes": sum(s.shuffle_read for s in stages),
        "shuffle_write_bytes": sum(s.shuffle_write for s in stages),
        "spill_bytes": sum(s.spill for s in stages),
        "input_rows": sum(s.input_rows for s in stages),
    }


def find_event_log(log_dir: str, app_id: str) -> str:
    for name in os.listdir(log_dir):
        if app_id in name and not name.endswith(".inprogress"):
            return os.path.join(log_dir, name)
    raise FileNotFoundError(f"no finished event log for {app_id} in {log_dir}")


# --- process tree RSS --------------------------------------------------------------

def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat", encoding="ascii", errors="replace") as fh:
                ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        kids.setdefault(ppid, []).append(int(name))
    return kids


def tree_pids(root: int) -> list[int]:
    kids, out, todo = _children_map(), [], [root]
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(kids.get(p, []))
    return out


def rss_bytes(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/statm", encoding="ascii") as fh:
            return int(fh.read().split()[1]) * os.sysconf("SC_PAGE_SIZE")
    except (OSError, IndexError, ValueError):
        return 0


def cpu_times() -> dict:
    """Cumulative CPU seconds of this process tree (live processes, plus the
    children each has reaped), and the host's total and steal seconds."""
    tick = os.sysconf("SC_CLK_TCK")
    tree = 0
    for pid in tree_pids(os.getpid()):
        try:
            with open(f"/proc/{pid}/stat", encoding="ascii", errors="replace") as fh:
                tree += sum(int(x) for x in fh.read().rsplit(")", 1)[1].split()[11:15])
        except (OSError, ValueError):
            continue
    with open("/proc/stat", encoding="ascii") as fh:
        host = [int(x) for x in fh.readline().split()[1:]]
    return {"tree_cpu_s": tree / tick, "host_cpu_s": sum(host) / tick,
            "host_steal_s": (host[7] if len(host) > 7 else 0) / tick}


class RssSampler:
    """Background thread recording the peak summed RSS of this process and
    all its descendants (the JVM and Spark's Python workers)."""

    def __init__(self, interval: float = 0.2):
        self.interval = interval
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self):
        root = os.getpid()
        while not self._stop.is_set():
            self.peak = max(self.peak, sum(rss_bytes(p) for p in tree_pids(root)))
            self._stop.wait(self.interval)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=5)
        return False


# --- FitCache entries -----------------------------------------------------------

def fitcache_keys(package_prefix: str = "drive_health_etl_spark") -> dict[str, set]:
    """Keys of every module-level FitCache in the loaded package modules."""
    import sys

    from drive_health_etl_spark.operators.fitcache import FitCache

    out = {}
    for mod in list(sys.modules.values()):
        if not getattr(mod, "__name__", "").startswith(package_prefix):
            continue
        for attr, obj in list(vars(mod).items()):
            if isinstance(obj, FitCache):
                out[f"{mod.__name__}.{attr}"] = set(obj.keys())
    return out


def fitcache_builds(before: dict[str, set], after: dict[str, set]) -> int:
    """Entries present after that were not present before, across caches."""
    return sum(len(keys - before.get(name, set())) for name, keys in after.items())
