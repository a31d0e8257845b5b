"""Tracing for the benchmark's traced run: spans recorded around each
call into a layer, Spark job-group tags per (operation, phase), the
Spark event log parsed per job group, and the Catalyst phase timings
of the queries Spark executed.

Spans stay in memory and are written out at the end. With tracing off
every hook is a no-op, so the timed runs pay nothing for it.
"""

from __future__ import annotations

import contextlib
import json
import os
import time
from collections import defaultdict
from dataclasses import dataclass, field

# Job groups the benchmark sets are "<operation>|<phase>"; a structured
# stream's micro-batches run under a job group Spark names after the
# stream's run id, which has no "|".
GROUP_SEP = "|"


@dataclass
class Span:
    id: int
    name: str
    layer: str
    start: float
    end: float
    parent: int | None
    run_id: str
    attrs: dict = field(default_factory=dict)

    @property
    def duration(self) -> float:
        return self.end - self.start


class Tracer:
    """Records spans when ``enabled``; otherwise every hook is a no-op."""

    def __init__(self, enabled: bool, run_id: str) -> None:
        self.enabled = enabled
        self.run_id = run_id
        self.spans: list[Span] = []
        self._stack: list[int] = []

    @contextlib.contextmanager
    def span(self, name: str, layer: str, **attrs):
        if not self.enabled:
            yield None
            return
        sp = Span(len(self.spans), name, layer, time.perf_counter(), 0.0,
                  self._stack[-1] if self._stack else None, self.run_id, attrs)
        self.spans.append(sp)
        self._stack.append(sp.id)
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()
            self._stack.pop()

    @contextlib.contextmanager
    def job_group(self, spark, op: str, phase: str):
        """Tag the Spark jobs fired inside the block with ``op|phase``."""
        if not self.enabled:
            yield
            return
        sc = spark.sparkContext
        sc.setJobGroup(f"{op}{GROUP_SEP}{phase}", op)
        try:
            yield
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)

    def self_times(self, root: Span | None = None) -> dict[str, float]:
        """Seconds per layer of each span's duration minus the part its
        child spans cover, over ``root``'s subtree (default: all)."""
        children: dict[int, list[Span]] = defaultdict(list)
        for sp in self.spans:
            if sp.parent is not None:
                children[sp.parent].append(sp)
        keep = None
        if root is not None:
            keep, todo = set(), [root.id]
            while todo:
                i = todo.pop()
                keep.add(i)
                todo += [c.id for c in children[i]]
        out: dict[str, float] = defaultdict(float)
        for sp in self.spans:
            if keep is not None and sp.id not in keep:
                continue
            covered = sum(c.duration for c in children[sp.id])
            out[sp.layer] += sp.duration - covered
        return dict(out)


class PlanningListener:
    """A ``QueryExecutionListener``, served by PySpark's callback server,
    that keeps the Catalyst phase seconds (analysis + optimization +
    planning, from the ``QueryPlanningTracker``) of every SQL execution
    the session runs, as (execution name, seconds), in completion order.

    Spark reports an execution on its listener bus after it ends;
    ``drain`` waits for the bus to empty and hands over what has
    arrived since the last drain."""

    def __init__(self, spark) -> None:
        from pyspark.java_gateway import ensure_callback_server_started

        self._spark = spark
        self._records: list[tuple[str, float]] = []
        ensure_callback_server_started(spark.sparkContext._gateway)
        spark._jsparkSession.listenerManager().register(self)

    def onSuccess(self, func_name, qe, duration_ns) -> None:  # noqa: N802 - Java interface
        to_java = self._spark._jvm.scala.jdk.javaapi.CollectionConverters.asJava
        phases = to_java(qe.tracker().phases())
        self._records.append(
            (func_name, sum(phases[k].durationMs() for k in phases.keySet()) / 1000.0))

    def onFailure(self, func_name, qe, exception) -> None:  # noqa: N802 - Java interface
        pass

    def drain(self) -> list[tuple[str, float]]:
        self._spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
        out, self._records = self._records, []
        return out

    class Java:
        implements = ["org.apache.spark.sql.util.QueryExecutionListener"]


# -- event log ---------------------------------------------------------------

_EXEC_KEYS = (
    "jobs", "stages", "tasks", "executor_run_s", "executor_cpu_s", "gc_s",
    "input_bytes", "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes",
)


def parse_event_logs(log_dir: str) -> dict[str, dict[str, float]]:
    """Per job group: jobs, stages and tasks run, and the task metrics
    summed over them. Reads the uncompressed, non-rolling logs the
    traced session writes (one file per application)."""
    stage_group: dict[tuple[str, int], str] = {}
    out: dict[str, dict[str, float]] = defaultdict(lambda: dict.fromkeys(_EXEC_KEYS, 0.0))
    stages_seen: dict[str, set] = defaultdict(set)
    for name in sorted(os.listdir(log_dir)) if os.path.isdir(log_dir) else []:
        app = name
        with open(os.path.join(log_dir, name)) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    group = (ev.get("Properties") or {}).get("spark.jobGroup.id") or "(none)"
                    out[group]["jobs"] += 1
                    for sid in ev.get("Stage IDs", []):
                        stage_group[(app, sid)] = group
                elif kind == "SparkListenerTaskEnd":
                    group = stage_group.get((app, ev.get("Stage ID")), "(none)")
                    m = ev.get("Task Metrics") or {}
                    row = out[group]
                    row["tasks"] += 1
                    stages_seen[group].add((app, ev.get("Stage ID")))
                    row["executor_run_s"] += m.get("Executor Run Time", 0) / 1e3
                    row["executor_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
                    row["gc_s"] += m.get("JVM GC Time", 0) / 1e3
                    row["input_bytes"] += (m.get("Input Metrics") or {}).get("Bytes Read", 0)
                    sr = m.get("Shuffle Read Metrics") or {}
                    row["shuffle_read_bytes"] += sr.get("Remote Bytes Read", 0) + sr.get(
                        "Local Bytes Read", 0)
                    row["shuffle_write_bytes"] += (m.get("Shuffle Write Metrics") or {}).get(
                        "Shuffle Bytes Written", 0)
                    row["spill_bytes"] += m.get("Memory Bytes Spilled", 0) + m.get(
                        "Disk Bytes Spilled", 0)
    for group, seen in stages_seen.items():
        out[group]["stages"] = len(seen)
    return dict(out)


def sum_groups(groups: dict[str, dict[str, float]], pred) -> dict[str, float]:
    """Element-wise sum of the per-group rows whose name satisfies ``pred``."""
    total = dict.fromkeys(_EXEC_KEYS, 0.0)
    for name, row in groups.items():
        if pred(name):
            for k in _EXEC_KEYS:
                total[k] += row[k]
    return total


def phase_of(group: str) -> str:
    """'fn', 'sink', ... for benchmark groups; 'stream' for a stream's
    micro-batch group; 'none' for untagged jobs."""
    if GROUP_SEP in group:
        return group.rsplit(GROUP_SEP, 1)[1]
    return "none" if group == "(none)" else "stream"
