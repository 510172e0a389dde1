"""Measurement plumbing shared by the workloads: percentiles with the tail
rule, the span tracer, the process-tree RSS sampler, Spark event-log
attribution and the streaming-progress readers."""

from __future__ import annotations

import glob
import json
import os
import statistics
import threading
import time
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import dataclass, field

# ---------------------------------------------------------------------------
# Percentiles
# ---------------------------------------------------------------------------


def percentile(values, q: float) -> float:
    """Linear-interpolated ``q``-th percentile (0-100) of ``values``."""
    xs = sorted(values)
    if not xs:
        raise ValueError("percentile of no samples")
    pos = (len(xs) - 1) * q / 100.0
    lo = int(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def tail_supported(n: int, q: float, beyond: int = 10) -> bool:
    """True when ``n`` samples leave at least ``beyond`` samples above the
    ``q``-th percentile, the rule each workload's fixed tail percentile is
    chosen by."""
    return n * (100.0 - q) / 100.0 >= beyond


# ---------------------------------------------------------------------------
# Tracing
# ---------------------------------------------------------------------------


@dataclass
class Span:
    id: int
    name: str
    trace_id: str
    parent: int | None
    start: float
    end: float = 0.0
    attrs: dict = field(default_factory=dict)

    @property
    def dur(self) -> float:
        return self.end - self.start


class Tracer:
    """In-memory spans, written out once when the run ends. A disabled
    tracer hands out no spans and records nothing."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[Span] = []
        self._lock = threading.Lock()
        self._local = threading.local()
        self._next = 0

    @contextmanager
    def span(self, name: str, trace_id: str | None = None,
             parent: Span | None = None, **attrs):
        if not self.enabled:
            yield None
            return
        stack = getattr(self._local, "stack", None)
        if stack is None:
            stack = self._local.stack = []
        par = parent if parent is not None else (stack[-1] if stack else None)
        with self._lock:
            self._next += 1
            sid = self._next
        sp = Span(sid, name,
                  trace_id or (par.trace_id if par else f"t{sid}"),
                  par.id if par else None, time.time(), attrs=dict(attrs))
        stack.append(sp)
        try:
            yield sp
        finally:
            sp.end = time.time()
            stack.pop()
            with self._lock:
                self.spans.append(sp)

    def total(self, name: str) -> float:
        return sum(s.dur for s in self.spans if s.name == name)

    def self_times(self) -> dict[str, float]:
        return self_times(self.spans)

    def write(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            for s in sorted(self.spans, key=lambda s: s.start):
                f.write(json.dumps({
                    "id": s.id, "name": s.name, "trace_id": s.trace_id,
                    "parent": s.parent, "start": s.start, "end": s.end,
                    **({"attrs": s.attrs} if s.attrs else {}),
                }) + "\n")


def _covered(intervals: list[tuple[float, float]]) -> float:
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_times(spans: list[Span]) -> dict[str, float]:
    """Per span name: summed duration minus the part of each span's
    interval its children cover (children may run on other threads)."""
    kids: dict[int, list[Span]] = defaultdict(list)
    for s in spans:
        if s.parent is not None:
            kids[s.parent].append(s)
    out: dict[str, float] = defaultdict(float)
    for s in spans:
        cov = _covered([(max(c.start, s.start), min(c.end, s.end))
                        for c in kids.get(s.id, []) if c.end > s.start
                        and c.start < s.end])
        out[s.name] += s.dur - cov
    return dict(out)


def busy_seconds(intervals: list[tuple[float, float]]) -> float:
    """Length of the union of ``intervals``."""
    return _covered(intervals)


# ---------------------------------------------------------------------------
# Open-loop accounting
# ---------------------------------------------------------------------------


def backlog_series(released: list[float], committed: list[float]) -> list[int]:
    """Files released but not yet committed, sampled right after each
    release, given the release times of one consumer's input files and the
    commit times of those it has taken. A file committed at the instant
    another is released was never queued behind it."""
    done = sorted(committed)
    out, j = [], 0
    for i, t in enumerate(sorted(released)):
        while j < len(done) and done[j] <= t:
            j += 1
        out.append(i + 1 - j)
    return out


def slope(xs: list[float], ys: list[float]) -> float:
    """Least-squares slope of ``ys`` over ``xs``."""
    mx, my = statistics.fmean(xs), statistics.fmean(ys)
    den = sum((x - mx) ** 2 for x in xs)
    return sum((x - mx) * (y - my) for x, y in zip(xs, ys)) / den


def freshness(event_due: list[float], commit_at: list[float]) -> list[float]:
    """Per event: commit time of the batch that held it minus its due time
    (both as offsets from the window start)."""
    return [c - d for d, c in zip(event_due, commit_at)]


# ---------------------------------------------------------------------------
# Process-tree memory
# ---------------------------------------------------------------------------


def _pss_bytes(pid: int, rss: int) -> int:
    """Proportional set size of ``pid``: its resident pages, each shared
    page split evenly among the processes that map it. Forked Python
    workers share most of their pages with the daemon they forked from, so
    summing plain RSS over the tree would count those pages once per
    worker. Falls back to ``rss`` where the kernel has no smaps_rollup."""
    try:
        with open(f"/proc/{pid}/smaps_rollup") as f:
            for line in f:
                if line.startswith("Pss:"):
                    return int(line.split()[1]) * 1024
    except OSError:
        pass
    return rss


def tree_rss_bytes(root: int) -> int:
    """Summed memory of ``root`` and its descendants: the proportional set
    size of each process found through ``/proc/<pid>/stat``. A child that
    still shares its parent's address space, as a JVM's spawn helper does
    between vfork and exec, is skipped rather than counted twice."""
    page = os.sysconf("SC_PAGE_SIZE")
    children: dict[int, list[int]] = defaultdict(list)
    stat: dict[int, tuple[int, int]] = {}  # pid -> (vsize, rss bytes)
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                parts = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        children[int(parts[1])].append(int(d))
        stat[int(d)] = (int(parts[20]), int(parts[21]) * page)
    total, todo = 0, [(root, None)]
    while todo:
        p, parent = todo.pop()
        vsize, rss = stat.get(p, (0, 0))
        if parent is None or vsize != stat.get(parent, (None,))[0]:
            total += _pss_bytes(p, rss)
        todo.extend((c, p) for c in children.get(p, []))
    return total


class RssSampler:
    """Samples the memory of this process and all its descendants (Python
    driver, the JVM and its Python workers) until stopped; ``peak`` is the
    largest ``tree_rss_bytes`` seen."""

    def __init__(self, interval_s: float = 0.5):
        self.interval_s = interval_s
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        me = os.getpid()
        while not self._stop.is_set():
            self.peak = max(self.peak, tree_rss_bytes(me))
            self._stop.wait(self.interval_s)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join()
        self.peak = max(self.peak, tree_rss_bytes(os.getpid()))


# ---------------------------------------------------------------------------
# Spark event log
# ---------------------------------------------------------------------------

def read_event_log(log_dir: str) -> list[dict]:
    """Events of the newest finished application log under ``log_dir``:
    a single file, or a rolling-log directory of ``events_<n>_…`` parts."""
    entries = [f for f in glob.glob(os.path.join(log_dir, "*"))
               if not f.endswith(".inprogress")]
    if not entries:
        return []
    newest = max(entries, key=os.path.getmtime)
    parts = [newest]
    if os.path.isdir(newest):
        parts = sorted(glob.glob(os.path.join(newest, "events_*")),
                       key=lambda f: int(os.path.basename(f).split("_")[1]))
    events = []
    for part in parts:
        with open(part) as f:
            events.extend(json.loads(line) for line in f if line.strip())
    return events


def attribute_tasks(events: list[dict], key_of,
                    window: tuple[float, float]) -> dict[str, dict]:
    """Sum task metrics per span key. ``key_of(job_properties)`` names the
    span that launched a job (or None to leave it out); every task of the
    job's stages is charged to that key. Jobs submitted outside the
    ``window`` (wall seconds) are left out."""
    stage_key: dict[int, str] = {}
    job_key: dict[int, str] = {}
    for e in events:
        if e.get("Event") == "SparkListenerJobStart":
            k = key_of(e.get("Properties") or {})
            at = e.get("Submission Time", 0) / 1000.0
            if k is None or not window[0] <= at <= window[1]:
                continue
            job_key[e["Job ID"]] = k
            for sid in e.get("Stage IDs", []):
                stage_key.setdefault(sid, k)
    out: dict[str, dict] = defaultdict(lambda: {
        "task_ms": 0, "cpu_ns": 0, "gc_ms": 0, "shuffle_write": 0,
        "shuffle_read": 0, "spill": 0, "tasks": 0, "jobs": 0,
        "stage_task_ms": defaultdict(list), "first": None, "last": None,
    })
    for k in job_key.values():
        out[k]["jobs"] += 1
    for e in events:
        if e.get("Event") != "SparkListenerTaskEnd":
            continue
        k = stage_key.get(e.get("Stage ID"))
        if k is None:
            continue
        m = e.get("Task Metrics") or {}
        info = e.get("Task Info") or {}
        a = out[k]
        a["tasks"] += 1
        a["task_ms"] += m.get("Executor Run Time", 0)
        a["cpu_ns"] += m.get("Executor CPU Time", 0)
        a["gc_ms"] += m.get("JVM GC Time", 0)
        a["spill"] += m.get("Memory Bytes Spilled", 0) + m.get(
            "Disk Bytes Spilled", 0)
        sw = m.get("Shuffle Write Metrics") or {}
        sr = m.get("Shuffle Read Metrics") or {}
        a["shuffle_write"] += sw.get("Shuffle Bytes Written", 0)
        a["shuffle_read"] += sr.get("Remote Bytes Read", 0) + sr.get(
            "Local Bytes Read", 0)
        a["stage_task_ms"][e["Stage ID"]].append(
            info.get("Finish Time", 0) - info.get("Launch Time", 0))
        lt, ft = info.get("Launch Time"), info.get("Finish Time")
        if lt is not None:
            a["first"] = lt if a["first"] is None else min(a["first"], lt)
        if ft is not None:
            a["last"] = ft if a["last"] is None else max(a["last"], ft)
    return dict(out)


def exec_metrics(per_key: dict[str, dict], wall_s: float,
                 cores: int) -> dict[str, float]:
    """The exec.* layer metrics over every attributed key."""
    task_ms = sum(a["task_ms"] for a in per_key.values())
    stages = {}
    for a in per_key.values():
        stages.update(a["stage_task_ms"])
    skews = [max(v) / max(statistics.median(v), 1.0)
             for v in stages.values() if len(v) >= 2]
    mb = 1024.0 * 1024.0
    return {
        "task_s": task_ms / 1000.0,
        "cpu_s": sum(a["cpu_ns"] for a in per_key.values()) / 1e9,
        "gc_s": sum(a["gc_ms"] for a in per_key.values()) / 1000.0,
        "core_util": task_ms / 1000.0 / max(wall_s * cores, 1e-9),
        "shuffle_write_mb": sum(a["shuffle_write"] for a in per_key.values()) / mb,
        "shuffle_read_mb": sum(a["shuffle_read"] for a in per_key.values()) / mb,
        "spill_mb": sum(a["spill"] for a in per_key.values()) / mb,
        "jobs": float(sum(a["jobs"] for a in per_key.values())),
        "stages": float(len(stages)),
        "tasks": float(sum(a["tasks"] for a in per_key.values())),
        "stage_skew": statistics.median(skews) if skews else 1.0,
    }


# ---------------------------------------------------------------------------
# Structured Streaming progress
# ---------------------------------------------------------------------------

OFFSET_PHASES = ("latestOffset", "getBatch", "walCommit")
COMMIT_PHASES = ("commitOffsets", "commitBatch")


def progress_sums(progress: list[dict]) -> dict[str, float]:
    """Per-run sums of the micro-batch phase durations (seconds), input
    rows and state-operator metrics from ``StreamingQuery.recentProgress``."""
    out = defaultdict(float)
    for p in progress:
        d = p.get("durationMs") or {}
        out["trigger_s"] += d.get("triggerExecution", 0) / 1000.0
        out["add_batch_s"] += d.get("addBatch", 0) / 1000.0
        out["planning_s"] += d.get("queryPlanning", 0) / 1000.0
        out["offsets_s"] += sum(d.get(k, 0) for k in OFFSET_PHASES) / 1000.0
        out["commit_s"] += sum(d.get(k, 0) for k in COMMIT_PHASES) / 1000.0
        if p.get("numInputRows", 0):
            out["batches"] += 1
            out["rows"] += p["numInputRows"]
        for so in p.get("stateOperators") or []:
            out["state_rows"] = so.get("numRowsTotal", 0)
            out["state_bytes"] = so.get("memoryUsedBytes", 0)
            out["state_commit_s"] += so.get("commitTimeMs", 0) / 1000.0
            out["late_rows_dropped"] += so.get("numRowsDroppedByWatermark", 0)
    return dict(out)


def source_log_files(checkpoint_dir: str) -> dict[str, dict[str, int]]:
    """file name -> batch id, per source, from a file-source checkpoint's
    metadata log (``sources/<n>/<batch>[.compact]``)."""
    out: dict[str, dict[str, int]] = {}
    for src in glob.glob(os.path.join(checkpoint_dir, "sources", "*")):
        files: dict[str, int] = {}
        for path in glob.glob(os.path.join(src, "*")):
            base = os.path.basename(path)
            if base.startswith(".") or not base.split(".")[0].isdigit():
                continue
            with open(path) as f:
                for line in f:
                    line = line.strip()
                    if not line.startswith("{"):
                        continue
                    e = json.loads(line)
                    files[os.path.basename(e["path"])] = int(e["batchId"])
        out[os.path.basename(src)] = files
    return out


def dir_stats(path: str, suffix: str = ".parquet") -> tuple[int, int]:
    """(files, bytes) of the data files under ``path``."""
    n = b = 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            if f.endswith(suffix) and not f.startswith("."):
                n += 1
                b += os.path.getsize(os.path.join(root, f))
    return n, b
