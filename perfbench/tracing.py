"""Spans around layer calls, and per-layer Spark counters read per job group.

A span wraps one call into a layer's public function. While tracing is on,
entering a span sets a Spark job group unique to that span, so every job the
call runs can be attributed to it afterwards from the in-process status store
(no event log, no UI). Nested spans restore their parent's group on exit, so
a job belongs to the innermost span that ran it; counters are therefore self
counters, and ``wall_s`` is self time (span duration minus its children).

Counters per layer, summed over the stages of its jobs (skipped stages
excluded): ``jobs``, ``tasks``, executor run and CPU time, shuffle read and
write, disk spill, ``rows_in`` (records read from files or cache plus shuffle
records read), ``rows_out`` (records written to files plus shuffle records
written) and ``task_skew`` (over the layer's stages, the largest ratio of the
slowest task's run time to the median task's).

With tracing off, ``span`` does nothing: the untraced run takes the same code
path minus the job-group calls and span records.
"""

from __future__ import annotations

import json
import statistics
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass

FULL_COUNTERS = (
    "wall_s", "jobs", "tasks", "executor_run_s", "executor_cpu_s",
    "shuffle_read_mb", "shuffle_write_mb", "spill_mb", "rows_in", "rows_out",
    "task_skew",
)
# Counters kept per layer; layers not listed keep FULL_COUNTERS.
LAYER_COUNTERS = {
    "session": ("wall_s", "jobs", "tasks"),
    "transcripts": ("wall_s", "jobs"),
    "sql": ("wall_s", "jobs", "shuffle_write_mb"),
}
FULL_LAYERS = (
    "pipeline.build", "pipeline.tier_1m", "pipeline.coarse", "pipeline.dims",
    "refresh", "catalog.commit", "catalog.read",
)
MB = float(1 << 20)


def unit_of(counter: str) -> str:
    if counter.endswith("_s"):
        return "s"
    if counter.endswith("_mb"):
        return "MB"
    return "ratio" if counter == "task_skew" else "count"


def counters_for(layer: str) -> tuple:
    return LAYER_COUNTERS.get("sql" if layer.startswith("sql.") else layer, FULL_COUNTERS)


def layer_names(sql_layers: tuple) -> tuple:
    return ("session", "transcripts") + FULL_LAYERS + sql_layers


@dataclass
class Span:
    id: int
    name: str
    parent: int | None
    pass_id: int | None
    start: float
    end: float
    group: str


class Tracer:
    def __init__(self):
        self.sc = None
        self.enabled = False
        self.pass_id: int | None = None
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._seq = 0

    def attach(self, spark) -> None:
        self.sc = spark.sparkContext
        self._set_group("bench")

    def _set_group(self, group: str) -> None:
        if self.sc is not None:
            self.sc.setJobGroup(group, group)

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        self._seq += 1
        parent = self._stack[-1] if self._stack else None
        sp = Span(self._seq, name, parent.id if parent else None, self.pass_id,
                  time.perf_counter(), 0.0, f"{name}#{self._seq}")
        self._stack.append(sp)
        self._set_group(sp.group)
        try:
            yield
        finally:
            sp.end = time.perf_counter()
            self._stack.pop()
            self._set_group(parent.group if parent else "bench")
            self.spans.append(sp)

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            for sp in sorted(self.spans, key=lambda s: s.start):
                f.write(json.dumps(asdict(sp)) + "\n")

    # ---------------------------------------------------------------- counters
    def _drain_listener_bus(self) -> None:
        self.sc._jsc.sc().listenerBus().waitUntilEmpty()

    def _stage_counters(self, store, sid: int, q) -> dict | None:
        st = store.lastStageAttempt(sid)
        if st.status().toString() != "COMPLETE":
            return None  # skipped stages reuse an earlier stage's output
        skew = 0.0
        if st.numCompleteTasks() >= 2:
            dist = store.taskSummary(sid, st.attemptId(), q)
            if dist.isDefined():
                run = dist.get().executorRunTime()
                skew = run.apply(1) / max(run.apply(0), 1.0)
        return {
            "tasks": st.numCompleteTasks(),
            "executor_run_s": st.executorRunTime() / 1e3,
            "executor_cpu_s": st.executorCpuTime() / 1e9,
            "shuffle_read_mb": st.shuffleReadBytes() / MB,
            "shuffle_write_mb": st.shuffleWriteBytes() / MB,
            "spill_mb": st.diskBytesSpilled() / MB,
            "rows_in": st.inputRecords() + st.shuffleReadRecords(),
            "rows_out": st.outputRecords() + st.shuffleWriteRecords(),
            "task_skew": skew,
        }

    def layer_counters(self, pass_id: int) -> dict[str, dict]:
        """Counters of one traced pass, summed per layer (task_skew: max)."""
        spans = [s for s in self.spans if s.pass_id == pass_id]
        by_group = {s.group: s for s in spans}
        self._drain_listener_bus()
        store = self.sc._jsc.sc().statusStore()
        gw = self.sc._gateway
        q = gw.new_array(gw.jvm.double, 2)
        q[0], q[1] = 0.5, 1.0
        out: dict[str, dict] = {}
        child_time: dict[int, float] = {}
        for s in spans:
            if s.parent is not None:
                child_time[s.parent] = child_time.get(s.parent, 0.0) + (s.end - s.start)
        for s in spans:
            acc = out.setdefault(s.name, dict.fromkeys(FULL_COUNTERS, 0.0))
            acc["wall_s"] += (s.end - s.start) - child_time.get(s.id, 0.0)
        jobs = store.jobsList(None)
        seen_stages: set[int] = set()
        for i in range(jobs.size()):
            job = jobs.apply(i)
            group = job.jobGroup()
            sp = by_group.get(group.get()) if group.isDefined() else None
            if sp is None:
                continue
            acc = out[sp.name]
            acc["jobs"] += 1
            ids = job.stageIds()
            for k in range(ids.size()):
                sid = ids.apply(k)
                if sid in seen_stages:
                    continue
                seen_stages.add(sid)
                c = self._stage_counters(store, sid, q)
                if c is None:
                    continue
                for key, v in c.items():
                    acc[key] = max(acc[key], v) if key == "task_skew" else acc[key] + v
        return out

    def session_counters(self, wall_s: float) -> dict:
        """The session layer: jobs run before any job group was set (the
        Python worker prewarm inside ``get_spark``)."""
        self._drain_listener_bus()
        store = self.sc._jsc.sc().statusStore()
        jobs = store.jobsList(None)
        n_jobs = n_tasks = 0
        for i in range(jobs.size()):
            job = jobs.apply(i)
            if not job.jobGroup().isDefined():
                n_jobs += 1
                n_tasks += job.numCompletedTasks()
        return {"wall_s": wall_s, "jobs": n_jobs, "tasks": n_tasks}


def median_counters(per_pass: list[dict[str, dict]]) -> dict[str, dict]:
    """Median over traced passes of each layer counter; a layer absent from
    a pass counts as zero there."""
    layers = {name for p in per_pass for name in p}
    return {
        name: {
            c: statistics.median(p.get(name, {}).get(c, 0.0) for p in per_pass)
            for c in FULL_COUNTERS
        }
        for name in layers
    }
