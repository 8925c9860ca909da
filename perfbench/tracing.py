"""Span recording, Spark event-log accounting and process measurements.

Everything here observes the program from outside: spans wrap the
benchmark's own calls into the package's public functions, Spark work is
attributed to a span through the job group set while the span is open,
and memory comes from ``/proc``. Nothing in this module imports Spark, so
the arithmetic is unit-testable without a session.
"""

from __future__ import annotations

import json
import os
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass
from pathlib import Path


@dataclass
class Span:
    """One timed call: ``parent`` is the index of the enclosing span in
    the tracer's list (None at top level); ``op`` is shared by every span
    of one timed operation."""
    name: str
    op: int
    parent: int | None
    start: float
    end: float | None = None

    @property
    def duration(self) -> float:
        return self.end - self.start


def covered(intervals: list[tuple[float, float]], lo: float,
            hi: float) -> float:
    """Length of ``[lo, hi]`` covered by the union of ``intervals``
    (overlapping children are counted once, parts outside are clipped)."""
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


def self_time(spans: list[Span], idx: int) -> float:
    """A span's duration minus the part of it its direct children cover."""
    s = spans[idx]
    kids = [(c.start, c.end) for c in spans if c.parent == idx]
    return s.duration - covered(kids, s.start, s.end)


class Tracer:
    """In-memory span recorder. ``set_group`` (e.g. a SparkContext's
    ``setJobGroup``) tags the Spark jobs started inside a span with
    ``<op>/<span index>`` so the event log can be split per span."""

    def __init__(self, set_group=None) -> None:
        self.spans: list[Span] = []
        self._stack: list[int] = []
        self._set_group = set_group

    @contextmanager
    def span(self, name: str, op: int):
        parent = self._stack[-1] if self._stack else None
        idx = len(self.spans)
        s = Span(name, op, parent, time.perf_counter())
        self.spans.append(s)
        self._stack.append(idx)
        self._tag(idx)
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            self._stack.pop()
            self._tag(self._stack[-1] if self._stack else None)

    def _tag(self, idx: int | None) -> None:
        if self._set_group is not None:
            self._set_group(None if idx is None else group_id(idx))

    def named(self, name: str) -> list[int]:
        return [i for i, s in enumerate(self.spans) if s.name == name]

    def write(self, path: Path, spark_stats: dict | None = None) -> None:
        rows = []
        for i, s in enumerate(self.spans):
            row = {"id": i, **asdict(s), "self": self_time(self.spans, i)}
            if spark_stats is not None:
                row["spark"] = spark_stats.get(group_id(i))
            rows.append(row)
        path.parent.mkdir(parents=True, exist_ok=True)
        path.write_text(json.dumps(rows, indent=1) + "\n")


def group_id(span_idx: int) -> str:
    return f"span-{span_idx}"


# ---------------------------------------------------------- Spark event log

def _empty_stats() -> dict:
    return {"jobs": 0, "stages": set(), "tasks": 0, "task_busy_ms": 0,
            "shuffle_write_bytes": 0, "spill_bytes": 0, "gc_ms": 0}


def event_log_stats(lines) -> dict[str, dict]:
    """Spark JSON event-log lines -> per job group: jobs, distinct stages
    that ran tasks, tasks, summed task wall (launch to finish), shuffle
    bytes written, bytes spilled to disk and task GC time. Stages map to
    the group of the job that submitted them."""
    stage_group: dict[int, str] = {}
    out: dict[str, dict] = {}
    for line in lines:
        ev = json.loads(line)
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
            if group is None:
                continue
            out.setdefault(group, _empty_stats())["jobs"] += 1
            for sid in ev.get("Stage IDs", []):
                stage_group.setdefault(sid, group)
        elif kind == "SparkListenerTaskEnd":
            group = stage_group.get(ev.get("Stage ID"))
            if group is None:
                continue
            st = out[group]
            info = ev.get("Task Info") or {}
            m = ev.get("Task Metrics") or {}
            st["stages"].add(ev["Stage ID"])
            st["tasks"] += 1
            st["task_busy_ms"] += max(
                0, info.get("Finish Time", 0) - info.get("Launch Time", 0))
            st["gc_ms"] += m.get("JVM GC Time", 0)
            st["spill_bytes"] += m.get("Disk Bytes Spilled", 0)
            st["shuffle_write_bytes"] += (
                m.get("Shuffle Write Metrics") or {}).get(
                "Shuffle Bytes Written", 0)
    for st in out.values():
        st["stages"] = len(st["stages"])
    return out


def read_event_logs(event_dir: Path) -> dict[str, dict]:
    """Parse every event file under ``event_dir`` (Spark 4 writes rolling
    ``eventlog_v2_<app>/events_<n>_<app>`` files by default)."""
    lines = []
    for f in sorted(event_dir.rglob("events_*")):
        lines += f.read_text().splitlines()
    return event_log_stats(ln for ln in lines if ln.strip())


def sum_stats(stats: list[dict]) -> dict:
    total = _empty_stats()
    total["stages"] = 0
    for st in stats:
        for k in total:
            total[k] += st[k]
    return total


# ------------------------------------------------------------- /proc, disk

def _ppid(pid: int) -> int | None:
    try:
        stat = Path(f"/proc/{pid}/stat").read_text()
    except OSError:
        return None
    # comm may hold spaces or parens: fields resume after the last ')'
    return int(stat.rsplit(")", 1)[1].split()[1])


def _vm_hwm_kb(pid: int) -> int:
    try:
        for line in Path(f"/proc/{pid}/status").read_text().splitlines():
            if line.startswith("VmHWM:"):
                return int(line.split()[1])
    except OSError:
        pass
    return 0


def process_tree(root: int) -> list[int]:
    """``root`` and every live descendant (JVM, Python worker daemon and
    its forked workers)."""
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if entry.isdigit():
            pp = _ppid(int(entry))
            if pp is not None:
                children.setdefault(pp, []).append(int(entry))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo += children.get(pid, [])
    return out


def peak_rss_mb(root: int | None = None) -> float:
    """Sum of per-process peak resident memory (VmHWM) over the process
    tree rooted at ``root`` (default: this process)."""
    pids = process_tree(os.getpid() if root is None else root)
    return sum(_vm_hwm_kb(p) for p in pids) / 1024.0


def dir_bytes(path) -> int:
    total = 0
    for dirpath, _dirs, files in os.walk(path):
        for f in files:
            total += os.path.getsize(os.path.join(dirpath, f))
    return total


def dir_files(path) -> int:
    return sum(len(files) for _d, _s, files in os.walk(path))


def snapshot(path) -> dict[str, tuple[int, int]]:
    """path -> (size, mtime_ns) for every file under ``path``."""
    out = {}
    for dirpath, _dirs, files in os.walk(path):
        for f in files:
            p = os.path.join(dirpath, f)
            try:
                st = os.stat(p)
            except FileNotFoundError:
                continue
            out[p] = (st.st_size, st.st_mtime_ns)
    return out


def bytes_written(before: dict, after: dict) -> int:
    """Bytes of files that are new or changed between two snapshots."""
    return sum(size for p, (size, mt) in after.items()
               if before.get(p) != (size, mt))
