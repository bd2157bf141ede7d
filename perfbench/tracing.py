"""Tracing from outside the engine: spans around calls into its public
functions, counters on the plan cache, Spark job groups, and a reader
for Spark's uncompressed JSON event log.

Nothing here edits the engine. Wrappers replace module attributes, so a
call that resolves the name through the module at call time (for
example ``write_single_file`` calling ``move_files``) is traced too.
Spans stay in memory until :meth:`Tracer.dump`.
"""

from __future__ import annotations

import contextlib
import functools
import json
import os
import time
from collections import defaultdict
from dataclasses import dataclass, field

FILEMOVER_FUNCS = (
    "list_output_files",
    "plan_moves",
    "has_collisions",
    "move_files",
    "plan_moves_df",
    "execute_moves_distributed",
    "write_single_file",
)


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: int | None
    op: str
    sid: int


@dataclass
class Tracer:
    enabled: bool
    spans: list[Span] = field(default_factory=list)
    plan_cache_calls: int = 0
    plan_cache_hits: int = 0
    op: str = ""
    _stack: list[int] = field(default_factory=list)

    @contextlib.contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        parent = self._stack[-1] if self._stack else None
        s = Span(name, time.perf_counter(), 0.0, parent, self.op, len(self.spans))
        self.spans.append(s)
        self._stack.append(s.sid)
        try:
            yield
        finally:
            s.end = time.perf_counter()
            self._stack.pop()

    def wrap(self, name: str, fn):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)

        return traced

    def self_times(self, op: str) -> dict[str, float]:
        """Self time per span name within one op: duration minus the part
        covered by direct children (children never overlap; the engine's
        calls here are sequential)."""
        spans = [s for s in self.spans if s.op == op]
        child = defaultdict(float)
        for s in spans:
            if s.parent is not None:
                child[s.parent] += s.end - s.start
        out: dict[str, float] = defaultdict(float)
        for s in spans:
            out[s.name] += (s.end - s.start) - child[s.sid]
        return dict(out)

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            for s in self.spans:
                fh.write(json.dumps(s.__dict__) + "\n")


def install_filemover_spans(tracer: Tracer) -> None:
    """Wrap the file-mover's public functions in ``filemover.<name>`` spans."""
    from spark_file_mover_spark import filemover

    for name in FILEMOVER_FUNCS:
        setattr(filemover, name, tracer.wrap(f"filemover.{name}", getattr(filemover, name)))


def install_plan_cache_counter(tracer: Tracer) -> None:
    """Count calls and hits of ``sources.io.cached_plan``: a call is a hit
    when it returns without invoking its ``make`` callback. The
    ``plan_cached`` decorator looks ``cached_plan`` up in its module at
    call time, so replacing the attribute sees every decorated key."""
    from spark_file_mover_spark.sources import io

    orig = io.cached_plan

    @functools.wraps(orig)
    def counted(spark, sf_dir, name, make):
        built = []

        def counting_make():
            built.append(True)
            return make()

        df = orig(spark, sf_dir, name, counting_make)
        tracer.plan_cache_calls += 1
        tracer.plan_cache_hits += not built
        return df

    io.cached_plan = counted


def capture_listings(sink: list) -> None:
    """Record every ``filemover.list_output_files`` result in ``sink`` so
    the layout check knows each planned file's size. Not a timing hook:
    it runs in untraced runs too."""
    from spark_file_mover_spark import filemover

    orig = filemover.list_output_files

    @functools.wraps(orig)
    def recording(spark, output_dir):
        out = orig(spark, output_dir)
        sink.extend(out)
        return out

    filemover.list_output_files = recording


# ---------------------------------------------------------------------------
# Spark event log
# ---------------------------------------------------------------------------


def event_log_files(log_dir: str) -> list[str]:
    """Event-log files of the one application logged under ``log_dir``.
    Spark 4 may write the rolling v2 layout (a directory
    ``eventlog_v2_<app>`` of ``events_<n>_<app>`` parts) or one file."""
    out: list[str] = []
    for entry in sorted(os.listdir(log_dir)):
        path = os.path.join(log_dir, entry)
        if os.path.isdir(path):
            parts = [p for p in os.listdir(path) if p.startswith("events_")]
            parts.sort(key=lambda p: int(p.split("_")[1]))
            out += [os.path.join(path, p) for p in parts]
        elif not entry.endswith(".inprogress"):
            out.append(path)
    return out


@dataclass
class JobRec:
    group: str
    start_ms: int
    end_ms: int = 0
    stages: list[int] = field(default_factory=list)


@dataclass
class StageRec:
    tasks: int = 0
    failed_tasks: int = 0
    run_ms: list[int] = field(default_factory=list)
    shuffle_read: int = 0
    shuffle_write: int = 0
    spill: int = 0


def read_event_log(paths: list[str]) -> tuple[dict[int, JobRec], dict[int, StageRec]]:
    """Jobs (with their job group) and per-stage task metrics."""
    jobs: dict[int, JobRec] = {}
    stages: dict[int, StageRec] = defaultdict(StageRec)
    for path in paths:
        with open(path) as fh:
            for line in fh:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    props = ev.get("Properties") or {}
                    jobs[ev["Job ID"]] = JobRec(
                        props.get("spark.jobGroup.id") or "",
                        ev.get("Submission Time", 0),
                        stages=list(ev.get("Stage IDs", [])),
                    )
                elif kind == "SparkListenerJobEnd":
                    job = jobs.get(ev["Job ID"])
                    if job is not None:
                        job.end_ms = ev.get("Completion Time", 0)
                elif kind == "SparkListenerTaskEnd":
                    st = stages[ev["Stage ID"]]
                    st.tasks += 1
                    info = ev.get("Task Info") or {}
                    if info.get("Failed") or info.get("Killed"):
                        st.failed_tasks += 1
                    m = ev.get("Task Metrics") or {}
                    st.run_ms.append(m.get("Executor Run Time", 0))
                    sr = m.get("Shuffle Read Metrics") or {}
                    st.shuffle_read += sr.get("Remote Bytes Read", 0) + sr.get(
                        "Local Bytes Read", 0
                    )
                    sw = m.get("Shuffle Write Metrics") or {}
                    st.shuffle_write += sw.get("Shuffle Bytes Written", 0)
                    st.spill += m.get("Memory Bytes Spilled", 0) + m.get(
                        "Disk Bytes Spilled", 0
                    )
    return jobs, dict(stages)


def group_totals(
    jobs: dict[int, JobRec], stages: dict[int, StageRec], group: str
) -> dict[str, float]:
    """Totals over every job of one job group. ``task_skew`` is the worst
    stage's max / median task run time (stages of >= 2 tasks)."""
    tot = defaultdict(float)
    skew = 1.0
    seen: set[int] = set()
    for job in jobs.values():
        if job.group != group:
            continue
        tot["jobs"] += 1
        tot["job_s"] += max(job.end_ms - job.start_ms, 0) / 1000.0
        for sid in job.stages:
            st = stages.get(sid)
            if st is None or sid in seen or not st.tasks:
                continue  # skipped (reused) stage: no task ran
            seen.add(sid)
            tot["stages"] += 1
            tot["tasks"] += st.tasks
            tot["failed_tasks"] += st.failed_tasks
            tot["task_busy_s"] += sum(st.run_ms) / 1000.0
            tot["shuffle_read_bytes"] += st.shuffle_read
            tot["shuffle_write_bytes"] += st.shuffle_write
            tot["spill_bytes"] += st.spill
            if len(st.run_ms) >= 2:
                runs = sorted(st.run_ms)
                med = runs[(len(runs) - 1) // 2]
                skew = max(skew, runs[-1] / max(med, 1))
    tot["task_skew"] = skew
    return dict(tot)
