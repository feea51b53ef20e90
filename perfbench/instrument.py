"""The benchmark's own instrumentation, recorded from outside the program.

- ``Spans``: named spans (start, end, parent) kept in memory and written
  out as JSON lines when the run ends.
- ``JobCounter``: Spark jobs and tasks per job group, read from the public
  ``SparkContext.statusTracker()`` API.
- ``FileLedger``: parquet files a write created, with row counts read
  from their footers, and the on-disk size of a directory tree.
"""

from __future__ import annotations

import itertools
import json
import os
import time
from contextlib import contextmanager
from dataclasses import dataclass, field


@dataclass
class Span:
    name: str
    span_id: int
    parent_id: int | None
    start_s: float
    end_s: float | None = None
    attrs: dict = field(default_factory=dict)

    @property
    def ms(self) -> float:
        return (self.end_s - self.start_s) * 1e3


class Spans:
    """In-memory span recorder. Not thread-aware: parents are passed
    explicitly, so spans opened on worker threads nest correctly."""

    def __init__(self) -> None:
        self.spans: list[Span] = []
        self._ids = itertools.count(1)

    def start(self, name: str, parent: Span | None = None, **attrs) -> Span:
        s = Span(name, next(self._ids), parent.span_id if parent else None,
                 time.perf_counter(), attrs=attrs)
        self.spans.append(s)
        return s

    def end(self, span: Span) -> Span:
        span.end_s = time.perf_counter()
        return span

    @contextmanager
    def span(self, name: str, parent: Span | None = None, **attrs):
        s = self.start(name, parent, **attrs)
        try:
            yield s
        finally:
            self.end(s)

    def named(self, name: str) -> list[Span]:
        return [s for s in self.spans if s.name == name and s.end_s is not None]

    def write(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps({
                    "name": s.name, "id": s.span_id, "parent": s.parent_id,
                    "start_s": s.start_s, "end_s": s.end_s, **s.attrs,
                }) + "\n")


class JobCounter:
    """Jobs and executed tasks of a Spark job group. Stage details may
    arrive on the listener bus a moment after the action returns, so
    count once the run has gone quiet (e.g. at its end)."""

    def __init__(self, sc) -> None:
        self.tracker = sc.statusTracker()

    def count(self, group: str) -> tuple[int, int]:
        jobs = self.tracker.getJobIdsForGroup(group)
        tasks = 0
        for j in jobs:
            info = self.tracker.getJobInfo(j)
            for sid in info.stageIds if info else ():
                st = self.tracker.getStageInfo(sid)
                if st is not None:
                    tasks += st.numCompletedTasks
        return len(jobs), tasks


@contextmanager
def job_group(sc, group: str):
    """Tag the Spark jobs this thread starts with ``group``, restoring the
    thread's previous group afterwards (a streaming query uses its own
    group to cancel its jobs on stop)."""
    keys = ("spark.jobGroup.id", "spark.job.description", "spark.job.interruptOnCancel")
    saved = [sc.getLocalProperty(k) for k in keys]
    sc.setJobGroup(group, group)
    try:
        yield
    finally:
        for k, v in zip(keys, saved):
            sc.setLocalProperty(k, v)


@dataclass(frozen=True)
class WriteStats:
    files: int
    rows: int
    bytes: int
    dirs: int  # distinct top-level subdirectories the new files sit in


class FileLedger:
    """Tracks the parquet files under ``root`` between two snapshots."""

    def __init__(self, root: str) -> None:
        self.root = root
        self.seen = self._parquet_files()

    def _parquet_files(self) -> set[str]:
        out = set()
        for dirpath, _, names in os.walk(self.root):
            for n in names:
                if n.endswith(".parquet"):
                    out.add(os.path.relpath(os.path.join(dirpath, n), self.root))
        return out

    def new_writes(self) -> WriteStats:
        """Files created since the previous call, counted from their
        footers; files a swap removed are forgotten."""
        import pyarrow.parquet as pq

        now = self._parquet_files()
        fresh = sorted(now - self.seen)
        self.seen = now
        rows = size = 0
        for rel in fresh:
            path = os.path.join(self.root, rel)
            rows += pq.read_metadata(path).num_rows
            size += os.path.getsize(path)
        dirs = {rel.split(os.sep, 1)[0] for rel in fresh if os.sep in rel}
        return WriteStats(len(fresh), rows, size, len(dirs))


def tree_bytes(root: str) -> int:
    """On-disk bytes of every regular file under ``root``."""
    return sum(
        os.path.getsize(os.path.join(d, n))
        for d, _, names in os.walk(root)
        for n in names
    )
