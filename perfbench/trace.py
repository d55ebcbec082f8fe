"""Per-layer tracing from the outside of the program.

A span wraps one call into a layer's public function (with its output
materialized), tags every Spark job the call submits with the layer as
its job group, and records (name, start, end, parent, run id) in
memory.  After the run, Spark's status store attributes per-stage
engine counters (executor run time, shuffle, spill, GC, failed tasks)
to layers by job group — this works with the UI disabled.
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass

from py4j.protocol import Py4JJavaError

LAYERS = (
    "ingest",
    "keys",
    "signatures",
    "lsh",
    "verify",
    "components",
    "repsplit",
    "groups",
    "plan",
    "report",
    "checkpoint",
)
# (suffix, unit, better) of the metrics every layer reports
LAYER_FIELDS = (
    ("s", "s", "lower"),
    ("task_s", "s", "lower"),
    ("busy_frac", "frac", "higher"),
    ("shuffle_bytes", "B", "lower"),
    ("spill_bytes", "B", "lower"),
    ("gc_s", "s", "lower"),
    ("failed_tasks", "count", "lower"),
)
_ENGINE = ("task_s", "shuffle_bytes", "spill_bytes", "gc_s", "failed_tasks")


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: str | None
    run_id: str


class Tracer:
    def __init__(self, sc, run_id: str):
        self._sc = sc
        self.run_id = run_id
        self.spans: list[Span] = []
        self._stack: list[str] = []

    @contextmanager
    def span(self, name: str):
        parent = self._stack[-1] if self._stack else None
        self._stack.append(name)
        self._sc.setJobGroup(name, self.run_id)
        start = time.monotonic()
        try:
            yield
        finally:
            end = time.monotonic()
            self._stack.pop()
            self.spans.append(Span(name, start, end, parent, self.run_id))
            if parent is None:
                self._sc.setLocalProperty("spark.jobGroup.id", None)
            else:
                self._sc.setJobGroup(parent, self.run_id)

    def self_seconds(self) -> dict[str, float]:
        """Span duration minus the part its child spans cover."""
        out: dict[str, float] = {}
        for s in self.spans:
            out[s.name] = out.get(s.name, 0.0) + s.end - s.start
            if s.parent is not None:
                out[s.parent] = out.get(s.parent, 0.0) - (s.end - s.start)
        return out

    def engine_counters(self) -> dict[str, dict[str, float]]:
        """Sum stage metrics per job group.  A stage listed by several
        jobs (a reused shuffle) belongs to the earliest one, which ran it."""
        names = {s.name for s in self.spans}
        store = self._sc._jsc.sc().statusStore()
        jobs = []
        it = store.jobsList(None).iterator()
        while it.hasNext():
            job = it.next()
            group = job.jobGroup()
            if group.isDefined() and group.get() in names:
                ids = job.stageIds()
                jobs.append((job.jobId(), group.get(), [ids.apply(i) for i in range(ids.size())]))
        owner: dict[int, str] = {}
        for _, group, stage_ids in sorted(jobs):
            for sid in stage_ids:
                owner.setdefault(sid, group)
        out = {n: dict.fromkeys(_ENGINE, 0.0) for n in names}
        for sid, group in owner.items():
            try:
                st = store.lastStageAttempt(sid)
            except Py4JJavaError:  # never-submitted stage: nothing ran
                continue
            if st.status().toString() == "SKIPPED":
                continue
            c = out[group]
            c["task_s"] += st.executorRunTime() / 1000.0
            c["shuffle_bytes"] += st.shuffleWriteBytes() + st.shuffleReadBytes()
            c["spill_bytes"] += st.memoryBytesSpilled()
            c["gc_s"] += st.jvmGcTime() / 1000.0
            c["failed_tasks"] += st.numFailedTasks()
        return out

    def layer_metrics(self, cores: int) -> dict[str, float]:
        """``<layer>.<field>`` for every layer; a layer the workload
        never calls reads 0."""
        secs = self.self_seconds()
        engine = self.engine_counters()
        m: dict[str, float] = {}
        for layer in LAYERS:
            s = secs.get(layer, 0.0)
            e = engine.get(layer, dict.fromkeys(_ENGINE, 0.0))
            m[f"{layer}.s"] = s
            m[f"{layer}.busy_frac"] = e["task_s"] / (s * cores) if s > 0 else 0.0
            for k in _ENGINE:
                m[f"{layer}.{k}"] = e[k]
        return m

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump([asdict(s) for s in self.spans], f, indent=1)
