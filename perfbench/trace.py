"""Spans kept in memory, span self time, and the Spark event-log parser.

A span is one timed interval at a layer boundary: an operation (a query,
a request, a write or read step), a phase inside it (``catalog``,
``build``, ``plan``, ``exec``; ``get_info``, ``do_get``) or a Spark job
read back from the event log. Spans of one operation share its ``op`` id.
"""

from __future__ import annotations

import glob
import json
import os
import threading
from dataclasses import asdict, dataclass, field

#: Job-group prefix that marks jobs launched by a benchmark operation:
#: ``perfbench|<op id>|<phase>``.
GROUP_PREFIX = "perfbench"


def job_group(op: str, phase: str) -> str:
    return f"{GROUP_PREFIX}|{op}|{phase}"


def parse_group(group: str | None) -> tuple[str, str] | None:
    """``(op, phase)`` of a benchmark job group, else None."""
    if not group:
        return None
    parts = group.split("|")
    if len(parts) != 3 or parts[0] != GROUP_PREFIX:
        return None
    return parts[1], parts[2]


@dataclass
class Span:
    span_id: int
    name: str
    op: str
    start: float  # epoch seconds
    end: float
    parent: int | None = None
    attrs: dict = field(default_factory=dict)

    @property
    def dur(self) -> float:
        return self.end - self.start


class Tracer:
    """Collects spans in memory; ``dump`` writes them out at the end."""

    def __init__(self) -> None:
        self.spans: list[Span] = []
        self._lock = threading.Lock()

    def add(self, name: str, op: str, start: float, end: float,
            parent: int | None = None, **attrs) -> int:
        with self._lock:
            sid = len(self.spans)
            self.spans.append(Span(sid, name, op, start, end, parent, attrs))
        return sid

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump([asdict(s) for s in self.spans], f)


def covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to ``[lo, hi]``."""
    clipped = sorted((max(a, lo), min(b, hi)) for a, b in intervals)
    total, cur_a, cur_b = 0.0, None, None
    for a, b in clipped:
        if b <= a:
            continue
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


def self_time(span: Span, children: list[Span]) -> float:
    """The span's duration minus the part of it its children cover.
    Overlapping children (parallel jobs) are counted once."""
    return span.dur - covered([(c.start, c.end) for c in children], span.start, span.end)


def self_times(spans: list[Span]) -> dict[int, float]:
    kids: dict[int, list[Span]] = {}
    for s in spans:
        if s.parent is not None:
            kids.setdefault(s.parent, []).append(s)
    return {s.span_id: self_time(s, kids.get(s.span_id, [])) for s in spans}


# -- Spark event log ---------------------------------------------------------

def _num(v) -> float:
    try:
        return float(v)
    except (TypeError, ValueError):
        return 0.0


def event_log_files(log_dir: str, app_id: str) -> list[str]:
    """The event-log files of one application, in write order. Spark 4
    writes rolling logs (``eventlog_v2_<app>/events_<n>_<app>[.zstd]``);
    a plain single file ``<app>[.zstd]`` is accepted too."""
    rolled = glob.glob(os.path.join(log_dir, f"eventlog_v2_{app_id}", "events_*"))
    if rolled:
        return sorted(rolled, key=lambda p: int(os.path.basename(p).split("_")[1]))
    return sorted(glob.glob(os.path.join(log_dir, f"{app_id}*")))


def read_events(paths: list[str]):
    """Yield the JSON events of the given log files (zstd-compressed
    files are decoded by suffix)."""
    import pyarrow as pa

    for p in paths:
        compression = "zstd" if p.endswith(".zstd") else None
        with pa.input_stream(p, compression=compression) as f:
            data = f.read()
        for line in data.decode().splitlines():
            if line.strip():
                yield json.loads(line)


@dataclass
class Job:
    job_id: int
    group: str | None
    sql: bool  # launched by a SQL execution (False: e.g. schema inference)
    start: float  # epoch seconds
    end: float = 0.0
    ok: bool = True
    stage_ids: list[int] = field(default_factory=list)


@dataclass
class Stage:
    stage_id: int
    tasks: int
    metrics: dict[str, float]
    peak_task_memory: float = 0.0


def parse_event_log(events) -> tuple[dict[int, Job], dict[int, Stage]]:
    """Jobs (with job group and SQL attribution) and completed stages
    (accumulables summed by name, plus the largest per-task peak
    execution memory)."""
    jobs: dict[int, Job] = {}
    stages: dict[int, Stage] = {}
    peak: dict[int, float] = {}
    for e in events:
        kind = e.get("Event")
        if kind == "SparkListenerJobStart":
            props = e.get("Properties") or {}
            jobs[e["Job ID"]] = Job(
                job_id=e["Job ID"],
                group=props.get("spark.jobGroup.id"),
                sql="spark.sql.execution.id" in props,
                start=e["Submission Time"] / 1000.0,
                stage_ids=list(e.get("Stage IDs") or []),
            )
        elif kind == "SparkListenerJobEnd":
            j = jobs.get(e["Job ID"])
            if j is not None:
                j.end = e["Completion Time"] / 1000.0
                j.ok = (e.get("Job Result") or {}).get("Result") == "JobSucceeded"
        elif kind == "SparkListenerTaskEnd":
            m = e.get("Task Metrics") or {}
            sid = e["Stage ID"]
            peak[sid] = max(peak.get(sid, 0.0), _num(m.get("Peak Execution Memory")))
        elif kind == "SparkListenerStageCompleted":
            info = e["Stage Info"]
            metrics: dict[str, float] = {}
            for acc in info.get("Accumulables") or []:
                name = acc.get("Name")
                if name:
                    metrics[name] = metrics.get(name, 0.0) + _num(acc.get("Value"))
            sid = info["Stage ID"]
            stages[sid] = Stage(sid, int(info.get("Number of Tasks") or 0), metrics)
    for sid, st in stages.items():
        st.peak_task_memory = peak.get(sid, 0.0)
    return jobs, stages
