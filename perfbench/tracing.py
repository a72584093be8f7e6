"""Spans around the pipeline's public calls, and the Spark event log
parsed per span.

A span records wall time and sets a Spark job group for its duration,
so every job (and every task of it) that runs inside the span carries
the span's id. After the session stops, the
event log is read once and each task's metrics are charged to the span
whose job group it ran under.

Spans are held in memory and only turned into numbers at the end of the
run; untraced runs use the plain pipeline and never enter a span.
"""

from __future__ import annotations

import contextlib
import json
import os
import statistics
import time
from dataclasses import dataclass, field

from careers_spark.plans.pipeline import KGPipeline


@dataclass
class Span:
    name: str
    group: str
    parent: "Span | None"
    start: float = 0.0
    end: float = 0.0

    @property
    def wall_s(self) -> float:
        return self.end - self.start


class Tracer:
    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.spans: list[Span] = []
        self._stack: list[Span] = []

    @contextlib.contextmanager
    def span(self, name: str):
        parent = self._stack[-1] if self._stack else None
        s = Span(name, f"pb{len(self.spans)}", parent)
        self.spans.append(s)
        self._stack.append(s)
        self.sc.setLocalProperty("spark.jobGroup.id", s.group)
        self.sc.setLocalProperty("spark.job.description", name)
        s.start = time.monotonic()
        try:
            yield s
        finally:
            s.end = time.monotonic()
            self._stack.pop()
            group = parent.group if parent else None
            self.sc.setLocalProperty("spark.jobGroup.id", group)
            self.sc.setLocalProperty(
                "spark.job.description", parent.name if parent else None
            )

    def under(self, top: Span) -> list[Span]:
        """`top` and every span nested in it."""
        out = []
        for s in self.spans:
            p = s
            while p is not None and p is not top:
                p = p.parent
            if p is top:
                out.append(s)
        return out


class TracedPipeline(KGPipeline):
    """KGPipeline whose every stage call runs inside a span."""

    def __init__(self, spark, work_dir: str, tracer: Tracer):
        super().__init__(spark, work_dir)
        self.tracer = tracer

    def stage(self, run, name, compute, partition_by=None):
        with self.tracer.span(f"stage:{name}"):
            return super().stage(run, name, compute, partition_by=partition_by)


# -- event log ---------------------------------------------------------------
@dataclass
class GroupStats:
    jobs: int = 0
    cpu_s: float = 0.0  # executor (JVM) CPU; python worker CPU is not in it
    gc_s: float = 0.0
    sched_delay_s: float = 0.0
    shuffle_write_mb: float = 0.0
    spill_mb: float = 0.0
    output_mb: float = 0.0
    # task durations per stage, for skew
    stage_tasks: dict = field(default_factory=dict)

    def add(self, other: "GroupStats") -> None:
        for k in ("jobs", "cpu_s", "gc_s", "sched_delay_s", "shuffle_write_mb",
                  "spill_mb", "output_mb"):
            setattr(self, k, getattr(self, k) + getattr(other, k))
        for st, ds in other.stage_tasks.items():
            self.stage_tasks.setdefault(st, []).extend(ds)

    def skew(self) -> float:
        """max / median task duration of the stage that ran longest;
        0 when no task ran."""
        if not self.stage_tasks:
            return 0.0
        ds = max(self.stage_tasks.values(), key=sum)
        med = statistics.median(ds)
        return max(ds) / med if med > 0 else 1.0


def parse_event_log(log_dir: str) -> dict[str, GroupStats]:
    """Job-group id -> summed task metrics, from every log in log_dir."""
    stats: dict[str, GroupStats] = {}
    stage_group: dict[int, str] = {}
    paths = sorted(
        os.path.join(d, fn) for d, _, fns in os.walk(log_dir) for fn in fns
        if not fn.startswith(("appstatus", "."))
    )
    for path in paths:
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    g = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                    if g:
                        stats.setdefault(g, GroupStats()).jobs += 1
                elif kind == "SparkListenerStageSubmitted":
                    g = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                    if g:
                        stage_group[ev["Stage Info"]["Stage ID"]] = g
                elif kind == "SparkListenerTaskEnd":
                    g = stage_group.get(ev["Stage ID"])
                    m = ev.get("Task Metrics")
                    if g is None or not m:
                        continue
                    _add_task(stats.setdefault(g, GroupStats()), ev, m)
    return stats


def _add_task(gs: GroupStats, ev: dict, m: dict) -> None:
    info = ev["Task Info"]
    dur_ms = info["Finish Time"] - info["Launch Time"]
    run_ms = m["Executor Run Time"]
    gs.cpu_s += m["Executor CPU Time"] / 1e9
    gs.gc_s += m["JVM GC Time"] / 1e3
    # the Spark UI's scheduler delay: task duration not spent running,
    # deserializing, serializing the result or fetching it
    fetch_ms = (
        info["Finish Time"] - info["Getting Result Time"]
        if info.get("Getting Result Time") else 0
    )
    gs.sched_delay_s += max(
        0,
        dur_ms - run_ms - m["Executor Deserialize Time"]
        - m["Result Serialization Time"] - fetch_ms,
    ) / 1e3
    sw = m.get("Shuffle Write Metrics") or {}
    gs.shuffle_write_mb += sw.get("Shuffle Bytes Written", 0) / 1e6
    gs.spill_mb += m.get("Disk Bytes Spilled", 0) / 1e6
    gs.output_mb += (m.get("Output Metrics") or {}).get("Bytes Written", 0) / 1e6
    gs.stage_tasks.setdefault(ev["Stage ID"], []).append(dur_ms / 1e3)


def span_stats(tracer: Tracer, top: Span, groups: dict[str, GroupStats]) -> GroupStats:
    """Task metrics of `top` and everything nested in it."""
    out = GroupStats()
    for s in tracer.under(top):
        if s.group in groups:
            out.add(groups[s.group])
    return out
