"""Span recorder and Spark event-log fold for the traced benchmark run.

The traced run wraps each layer's public calls (see
:func:`install_layer_wrappers`) with :meth:`Tracer.wrap`. Every span gets
a name, start, end and parent, and sets a Spark job group of its own, so
each job in the event log can be attributed to the innermost span that
submitted it. After the session
stops, :func:`fold_event_log` turns the uncompressed event log into
per-job stage spans, task counts, executor run time, shuffle and spill
bytes; :func:`span_costs` then charges them to spans, including the
``wall - union(stage spans)`` overhead that is driver planning plus job
barriers.

Spans live in memory until :meth:`Tracer.dump` writes them out.
"""

from __future__ import annotations

import functools
import json
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field
from pathlib import Path

GROUP_PREFIX = "perfbench-span-"


@dataclass
class Span:
    id: int
    name: str
    parent: int | None
    start: float
    end: float = 0.0
    counts: dict = field(default_factory=dict)

    @property
    def wall(self) -> float:
        return self.end - self.start


class NullTracer:
    """Tracing off: spans cost one context-manager entry."""

    @contextmanager
    def span(self, name: str):
        yield None

    @contextmanager
    def paused(self):
        yield


class Tracer:
    """In-memory span recorder that tags Spark jobs with the span id."""

    def __init__(self, sc):
        self.sc = sc
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._patched: list[tuple[object, str, object]] = []
        self._paused = 0

    def _set_group(self, span: Span | None) -> None:
        if span is None:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)
        else:
            self.sc.setJobGroup(f"{GROUP_PREFIX}{span.id}", span.name)

    @contextmanager
    def paused(self):
        """Run the benchmark's own checks without recording spans."""
        self._paused += 1
        try:
            yield
        finally:
            self._paused -= 1

    @contextmanager
    def span(self, name: str):
        if self._paused:
            yield None
            return
        parent = self._stack[-1] if self._stack else None
        s = Span(len(self.spans), name, parent.id if parent else None, time.time())
        self.spans.append(s)
        self._stack.append(s)
        self._set_group(s)
        try:
            yield s
        finally:
            s.end = time.time()
            self._stack.pop()
            self._set_group(parent)

    def wrap(self, owner, attr: str, name: str) -> None:
        """Replace ``owner.attr`` (a module function or a class method)
        with a version that runs inside a span; :meth:`restore` undoes it."""
        original = getattr(owner, attr)

        @functools.wraps(original)
        def traced(*args, **kwargs):
            with self.span(name):
                return original(*args, **kwargs)

        self._patched.append((owner, attr, original))
        setattr(owner, attr, traced)

    def restore(self) -> None:
        for owner, attr, original in reversed(self._patched):
            setattr(owner, attr, original)
        self._patched.clear()

    def dump(self, path: Path, costs: dict[int, "Cost"]) -> None:
        """Write every span with its inclusive Spark cost."""
        path.write_text(json.dumps(
            [{**asdict(s), "cost": asdict(costs[s.id])} for s in self.spans]))


def install_layer_wrappers(tracer: Tracer) -> None:
    """Wrap the public calls of every traced layer (names by package path)."""
    from datawarehouse_backup_system_spark import ledger
    from datawarehouse_backup_system_spark.plans import hash_index, ingest, table_format
    from datawarehouse_backup_system_spark.sources import csv_source

    fmt = table_format.WriteIdParquetFormat
    for owner, attr, name in (
        (ingest, "discover_files", "catalog.discover"),
        (csv_source, "detect_encoding", "csv_source.sniff"),
        (csv_source, "detect_delimiter", "csv_source.sniff"),
        (ingest, "extract_zip_first_member", "csv_source.unzip"),
        (ingest, "read_raw_csv", "csv_source.scan_plan"),
        (ingest.IngestJob, "run", "ingest.run"),
        (ingest.IngestJob, "process_file", "ingest.file"),
        (ingest.IngestJob, "export_watermarks", "export.watermarks"),
        (ingest, "next_id_watermark", "ids.watermark"),
        (hash_index, "live_write_pairs", "hash_index.live_pairs"),
        (fmt, "append", "table_format.append"),
        (fmt, "read", "table_format.read"),
        (fmt, "recover", "table_format.recover"),
        (table_format.WriterLease, "acquire", "table_format.lease"),
        (table_format.WriterLease, "touch", "table_format.lease"),
        (table_format.WriterLease, "release", "table_format.lease"),
        (ledger.Ledger, "append_many", "ledger.append"),
        (ledger.Ledger, "processed_set", "ledger.processed_set"),
    ):
        tracer.wrap(owner, attr, name)


# -- event log -------------------------------------------------------------

@dataclass
class Job:
    id: int
    group: str | None
    stages: list[int] = field(default_factory=list)


@dataclass
class Stage:
    id: int
    start: float = 0.0        # seconds since epoch
    end: float = 0.0
    tasks: int = 0
    executor_s: float = 0.0
    shuffle_bytes: int = 0    # bytes written by shuffle map tasks
    spill_bytes: int = 0      # bytes spilled to disk


def fold_event_log(log_dir: Path) -> tuple[dict[int, Job], dict[int, Stage]]:
    """Parse every uncompressed event-log file under ``log_dir``."""
    jobs: dict[int, Job] = {}
    stages: dict[int, Stage] = {}
    for f in sorted(p for p in Path(log_dir).rglob("*") if p.is_file()):
        with f.open(encoding="utf-8") as fh:
            for line in fh:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    props = ev.get("Properties") or {}
                    jobs[ev["Job ID"]] = Job(
                        ev["Job ID"], props.get("spark.jobGroup.id"),
                        list(ev.get("Stage IDs", [])),
                    )
                elif kind == "SparkListenerStageCompleted":
                    info = ev["Stage Info"]
                    st = stages.setdefault(info["Stage ID"], Stage(info["Stage ID"]))
                    st.start = info.get("Submission Time", 0) / 1000.0
                    st.end = info.get("Completion Time", 0) / 1000.0
                elif kind == "SparkListenerTaskEnd":
                    m = ev.get("Task Metrics") or {}
                    st = stages.setdefault(ev["Stage ID"], Stage(ev["Stage ID"]))
                    st.tasks += 1
                    st.executor_s += m.get("Executor Run Time", 0) / 1000.0
                    st.shuffle_bytes += (m.get("Shuffle Write Metrics") or {}).get(
                        "Shuffle Bytes Written", 0)
                    st.spill_bytes += m.get("Disk Bytes Spilled", 0)
    return jobs, stages


@dataclass
class Cost:
    """Inclusive Spark cost of one span (its own jobs plus its children's)."""

    wall: float = 0.0
    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    executor_s: float = 0.0
    shuffle_bytes: int = 0
    spill_bytes: int = 0
    overhead_s: float = 0.0   # wall not covered by any of its stages


def _covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
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


def span_costs(spans: list[Span], jobs: dict[int, Job],
               stages: dict[int, Stage]) -> dict[int, Cost]:
    children: dict[int | None, list[int]] = {}
    for s in spans:
        children.setdefault(s.parent, []).append(s.id)
    own_jobs: dict[int, list[Job]] = {}
    for j in jobs.values():
        if j.group and j.group.startswith(GROUP_PREFIX):
            own_jobs.setdefault(int(j.group[len(GROUP_PREFIX):]), []).append(j)

    def subtree(sid: int) -> list[int]:
        out, todo = [], [sid]
        while todo:
            cur = todo.pop()
            out.append(cur)
            todo.extend(children.get(cur, []))
        return out

    # a stage runs in the first job that lists it; later jobs skip it
    owner: dict[int, int] = {}
    for j in sorted(jobs.values(), key=lambda j: j.id):
        for stid in j.stages:
            owner.setdefault(stid, j.id)

    costs: dict[int, Cost] = {}
    for s in spans:
        c = Cost(wall=s.wall)
        intervals = []
        for sid in subtree(s.id):
            for j in own_jobs.get(sid, []):
                c.jobs += 1
                for stid in j.stages:
                    st = stages.get(stid)
                    if owner[stid] != j.id or st is None or st.end <= 0:
                        continue   # skipped stage: its output was reused
                    c.stages += 1
                    c.tasks += st.tasks
                    c.executor_s += st.executor_s
                    c.shuffle_bytes += st.shuffle_bytes
                    c.spill_bytes += st.spill_bytes
                    intervals.append((st.start, st.end))
        c.overhead_s = s.wall - _covered(intervals, s.start, s.end)
        costs[s.id] = c
    return costs
