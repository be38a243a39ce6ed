"""In-memory span tracer and the wrappers that put spans around each
``pydala2_spark`` layer's public entry points.

Nothing under ``pydala2_spark/`` is edited: :func:`instrument` replaces
module attributes and class methods with timing wrappers for the life
of a traced run and :func:`Instrumentation.undo` puts the originals
back. Spans are ``(name, start, end, parent, op)`` records held in a
list and written out once, at the end of the run.
"""

from __future__ import annotations

import importlib
import json
import time
from contextlib import contextmanager
from dataclasses import dataclass, field


@dataclass
class Span:
    id: int
    name: str
    start: float
    end: float
    parent: int | None
    op: int | None
    attrs: dict = field(default_factory=dict)

    @property
    def duration(self) -> float:
        return self.end - self.start


class Tracer:
    """Collects spans; ``enabled`` switches recording on and off without
    removing the wrappers, so only set-up and the operations themselves
    are recorded, not the checks around them."""

    def __init__(self, clock=time.perf_counter) -> None:
        self.clock = clock
        self.spans: list[Span] = []
        self.enabled = False
        self.op: int | None = None
        self._stack: list[Span] = []

    @contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield None
            return
        s = Span(
            id=len(self.spans),
            name=name,
            start=self.clock(),
            end=float("nan"),
            parent=self._stack[-1].id if self._stack else None,
            op=self.op,
            attrs=attrs,
        )
        self.spans.append(s)
        self._stack.append(s)
        try:
            yield s
        finally:
            self._stack.pop()
            s.end = self.clock()

    def self_times(self) -> dict[int, float]:
        """Span id -> duration minus the part covered by its children
        (children of one span never overlap: calls are sequential)."""
        covered: dict[int, float] = {}
        for s in self.spans:
            if s.parent is not None:
                covered[s.parent] = covered.get(s.parent, 0.0) + s.duration
        return {s.id: s.duration - covered.get(s.id, 0.0) for s in self.spans}

    def totals(self, name: str, op_ids: set[int] | None = None) -> tuple[float, int]:
        """Summed duration and call count of spans called ``name``."""
        picked = [
            s for s in self.spans if s.name == name and (op_ids is None or s.op in op_ids)
        ]
        return sum(s.duration for s in picked), len(picked)

    def write(self, path: str) -> None:
        selfs = self.self_times()
        with open(path, "w") as f:
            for s in self.spans:
                rec = {
                    "id": s.id,
                    "name": s.name,
                    "start": s.start,
                    "end": s.end,
                    "parent": s.parent,
                    "op": s.op,
                    "self": selfs[s.id],
                    **({"attrs": s.attrs} if s.attrs else {}),
                }
                f.write(json.dumps(rec, default=str) + "\n")


# (module, attribute path, span name). A dotted attribute path names a
# method; module-level functions are patched in their defining module,
# which is where the package's own lazy imports resolve them.
ENTRY_POINTS = [
    ("pydala2_spark.plans.stats", "collect_file_stats", "stats.footer_scan"),
    ("pydala2_spark.plans.stats", "prune_files", "stats.prune"),
    ("pydala2_spark.plans.stats", "read_pruned", "stats.read_pruned"),
    ("pydala2_spark.plans.stats", "StatsIndex.refresh", "stats.refresh"),
    ("pydala2_spark.plans.analyze", "refresh_metadata", "stats.refresh"),
    ("pydala2_spark.plans.bloom", "bloom_prune", "bloom.prune"),
    ("pydala2_spark.plans.bloom", "build_bloom_index", "bloom.build"),
    ("pydala2_spark.plans.fs", "list_files", "fs.list"),
    ("pydala2_spark.plans.catalog", "Catalog.register", "catalog.register"),
    ("pydala2_spark.plans.catalog", "Catalog.sql", "catalog.sql"),
    ("pydala2_spark.sources.dataset", "BaseDataset.load", "dataset.load"),
    ("pydala2_spark.sources.writer", "Writer.write", "writer.write"),
    ("pydala2_spark.operators.merge", "merge", "merge.merge"),
    ("pydala2_spark.operators.merge", "delete_where", "merge.delete_where"),
    ("pydala2_spark.operators.merge", "update_where", "merge.update_where"),
    ("pydala2_spark.operators.maintenance", "compact_by_rows", "maintenance.compact"),
    ("pydala2_spark.plans.snapshots", "SnapshotDataset.commit", "snapshots.commit"),
    ("pydala2_spark.plans.snapshots", "SnapshotDataset.delete_where", "snapshots.mutate"),
    ("pydala2_spark.plans.snapshots", "SnapshotDataset.update_where", "snapshots.mutate"),
    ("pydala2_spark.plans.snapshots", "SnapshotDataset.compact", "snapshots.compact"),
    ("pydala2_spark.plans.snapshots", "SnapshotDataset.read_pruned", "snapshots.read_pruned"),
]


def _wrap(fn, tracer: Tracer, name: str, on_result=None):
    def wrapper(*args, **kwargs):
        if not tracer.enabled:
            return fn(*args, **kwargs)
        with tracer.span(name) as s:
            out = fn(*args, **kwargs)
            if on_result is not None:
                s.attrs.update(on_result(out))
            return out

    wrapper.__wrapped__ = fn
    wrapper.__name__ = getattr(fn, "__name__", name)
    wrapper.__doc__ = getattr(fn, "__doc__", None)
    return wrapper


def span_cost_s(n: int = 20_000) -> float:
    """Seconds one traced call adds over an untraced one (a wrapped
    no-op, timed with tracing on and off)."""
    tracer = Tracer()
    f = _wrap(lambda: None, tracer, "noop")
    times = []
    for enabled in (False, True):
        tracer.enabled = enabled
        t0 = time.perf_counter()
        for _ in range(n):
            f()
        times.append(time.perf_counter() - t0)
    return max(times[1] - times[0], 0.0) / n


def _kept(out) -> dict:
    """Pruning result: the file names a pruner kept."""
    if not isinstance(out, list):
        return {}
    return {"kept": [str(f).rsplit("/", 1)[-1] for f in out]}


class Instrumentation:
    def __init__(self) -> None:
        self._undo: list[tuple[object, str, object]] = []

    def patch(self, owner, attr: str, new) -> None:
        self._undo.append((owner, attr, owner.__dict__[attr]))
        setattr(owner, attr, new)

    def undo(self) -> None:
        for owner, attr, old in reversed(self._undo):
            setattr(owner, attr, old)
        self._undo.clear()


def instrument(tracer: Tracer) -> Instrumentation:
    """Wrap every entry point in :data:`ENTRY_POINTS` with spans."""
    inst = Instrumentation()
    for mod_name, path, span_name in ENTRY_POINTS:
        owner = importlib.import_module(mod_name)
        *cls_path, attr = path.split(".")
        for c in cls_path:
            owner = getattr(owner, c)
        fn = owner.__dict__[attr]
        on_result = _kept if span_name in ("stats.prune", "bloom.prune") else None
        inst.patch(owner, attr, _wrap(fn, tracer, span_name, on_result))
    return inst


class SparkJobs:
    """Per-operation Spark scheduler and executor numbers, read from the
    core status store through a job group set around each operation."""

    def __init__(self, spark) -> None:
        self.sc = spark.sparkContext
        self._store = self.sc._jsc.sc().statusStore()

    def begin(self, op: int) -> None:
        self.sc.setJobGroup(f"perfbench-op-{op}", f"operation {op}")

    def end(self, op: int) -> dict:
        """Totals over the operation's jobs, after the listener bus has
        delivered every event."""
        self.sc._jsc.sc().listenerBus().waitUntilEmpty()
        self.sc.setLocalProperty("spark.jobGroup.id", None)
        jobs = self.sc.statusTracker().getJobIdsForGroup(f"perfbench-op-{op}")
        out = {"jobs": len(jobs), "stages": 0, "tasks": 0, "executor_run_s": 0.0,
               "input_bytes": 0, "shuffle_write_bytes": 0, "spill_bytes": 0,
               "job_intervals": []}
        for jid in jobs:
            try:
                jd = self._store.job(jid)
            except Exception:  # evicted from the store: count the job only
                continue
            sub, done = jd.submissionTime(), jd.completionTime()
            if sub.isDefined() and done.isDefined():
                out["job_intervals"].append(
                    (sub.get().getTime() / 1000.0, done.get().getTime() / 1000.0)
                )
            stage_ids = jd.stageIds()
            for k in range(stage_ids.size()):
                try:
                    st = self._store.lastStageAttempt(stage_ids.apply(k))
                except Exception:  # skipped stage: never ran, no attempt
                    continue
                if st.numCompleteTasks() == 0:
                    continue
                out["stages"] += 1
                out["tasks"] += st.numCompleteTasks()
                out["executor_run_s"] += st.executorRunTime() / 1000.0
                out["input_bytes"] += st.inputBytes()
                out["shuffle_write_bytes"] += st.shuffleWriteBytes()
                out["spill_bytes"] += st.memoryBytesSpilled() + st.diskBytesSpilled()
        return out


def covered_seconds(intervals: list[tuple[float, float]]) -> float:
    """Length of the union of ``(start, end)`` intervals."""
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
