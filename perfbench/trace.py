"""In-memory span tracer for the traced benchmark run.

The tracer wraps, at run time, the public functions and methods of each
program layer (see ``LAYERS``) so that every call records a span: name,
start, end, parent span and request id. Spans live in memory; the run
writes them out at exit. Each span also tags the Spark jobs it launches
with its own job group, so Spark's status store can later attribute jobs,
stages, tasks, task time, shuffle and spill to the span that caused them.
DataFrames returned by wrapped calls keep their Catalyst phase times
(``queryExecution().tracker()``), read once at the end.

Nothing here runs unless the benchmark is started with ``--trace 1``;
end-to-end metrics always come from untraced runs.
"""

from __future__ import annotations

import functools
import importlib
import inspect
import itertools
import threading
import time
from contextlib import contextmanager

from pyspark.sql import DataFrame

# (layer name, module, classes whose public methods are wrapped; None wraps
# the module's own public functions instead)
LAYERS = (
    ("api", "vector_db_mvp_spark.api", ("VectorDbApi",)),
    ("engine", "vector_db_mvp_spark.engine", ("SearchEngine", "SearchResult")),
    ("storage.store", "vector_db_mvp_spark.storage.store", ("EntityStore",)),
    ("storage.index_store", "vector_db_mvp_spark.storage.index_store", ("ChunkIndexStore",)),
    ("embedding.provider", "vector_db_mvp_spark.embedding.provider", ("HashEmbeddingProvider",)),
    ("operators.lsh", "vector_db_mvp_spark.operators.lsh", None),
    ("operators.dbscan", "vector_db_mvp_spark.operators.dbscan", None),
    ("operators.cluster", "vector_db_mvp_spark.operators.cluster", None),
    ("session", "vector_db_mvp_spark.session", None),
)

_JOB_GROUP = "spark.jobGroup.id"
_PHASES = ("analysis", "optimization", "planning")


class Tracer:
    """Spans plus the Spark context they tag. One tracer per traced run."""

    def __init__(self) -> None:
        self.spans: list[dict] = []
        self.frames: list[tuple[int, DataFrame]] = []
        self.sc = None  # set once the session exists; spans before it tag nothing
        self.enabled = True  # wrappers call straight through while False
        self._local = threading.local()
        self._lock = threading.Lock()
        self._ids = itertools.count(1)
        self._undo: list[tuple[object, str, object]] = []

    # ---- spans ---------------------------------------------------------

    def _stack(self) -> list[dict]:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    @contextmanager
    def span(self, name: str):
        stack = self._stack()
        parent = stack[-1] if stack else None
        sid = next(self._ids)
        rec = {
            "id": sid,
            "name": name,
            "parent": parent["id"] if parent else None,
            "request": parent["request"] if parent else sid,
            "start": time.perf_counter(),
            "end": None,
        }
        stack.append(rec)
        if self.sc is not None:
            self.sc.setLocalProperty(_JOB_GROUP, f"pb{sid}")
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            stack.pop()
            if self.sc is not None:
                self.sc.setLocalProperty(_JOB_GROUP, f"pb{parent['id']}" if parent else None)
            with self._lock:
                self.spans.append(rec)

    def _wrap(self, fn, name: str):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            if not self.enabled:
                return fn(*args, **kwargs)
            with self.span(name) as rec:
                out = fn(*args, **kwargs)
                if isinstance(out, bool):
                    rec["ret"] = out
            frame = out if isinstance(out, DataFrame) else getattr(out, "hits", None)
            if isinstance(frame, DataFrame):
                with self._lock:
                    self.frames.append((rec["id"], frame))
            return out

        return traced

    # ---- install / uninstall -------------------------------------------

    def install(self) -> None:
        for layer, module_name, classes in LAYERS:
            mod = importlib.import_module(module_name)
            owners = [mod] if classes is None else [getattr(mod, c) for c in classes]
            for owner in owners:
                for attr, raw in list(vars(owner).items()):
                    if attr.startswith("_"):
                        continue
                    if classes is None and not (
                        inspect.isfunction(raw) and raw.__module__ == mod.__name__
                    ):
                        continue
                    name = f"{layer}.{attr}"
                    if isinstance(raw, staticmethod):
                        new = staticmethod(self._wrap(raw.__func__, name))
                    elif inspect.isfunction(raw):
                        new = self._wrap(raw, name)
                    else:
                        continue
                    self._undo.append((owner, attr, raw))
                    setattr(owner, attr, new)

    def uninstall(self) -> None:
        while self._undo:
            owner, attr, raw = self._undo.pop()
            setattr(owner, attr, raw)

    # ---- reading Spark and Catalyst ------------------------------------

    def spark_stats(self) -> dict[int, dict]:
        """Per span id: Spark work launched under that span's job group
        (not its children's). Reads the status store after the listener
        bus has drained, so stage metrics are final."""
        out: dict[int, dict] = {}
        if self.sc is None:
            return out
        jsc = self.sc._jsc.sc()
        jsc.listenerBus().waitUntilEmpty()
        store = jsc.statusStore()
        stage_owner: dict[int, int] = {}  # stage id -> first job group listing it
        jobs = sorted(
            (
                (j.jobId(), j.jobGroup(), j.stageIds().mkString(","))
                for j in _scala_items(store.jobsList(None))
            ),
            key=lambda t: t[0],
        )
        for _, group, stages in jobs:
            if group.isEmpty() or not group.get().startswith("pb"):
                continue
            sid = int(group.get()[2:])
            acc = out.setdefault(sid, _zero_stats())
            acc["jobs"] += 1
            for s in filter(None, stages.split(",")):
                stage_owner.setdefault(int(s), sid)
        gw = self.sc._gateway
        no_quantiles = gw.new_array(gw.jvm.double, 0)
        stages = store.stageList(None, False, False, no_quantiles, gw.jvm.java.util.ArrayList())
        for sd in _scala_items(stages):
            sid = stage_owner.get(sd.stageId())
            if sid is None or sd.numCompleteTasks() == 0:
                continue
            acc = out[sid]
            acc["stages"] += 1
            acc["tasks"] += sd.numCompleteTasks()
            acc["task_ms"] += sd.executorRunTime()
            acc["cpu_ms"] += sd.executorCpuTime() / 1e6
            acc["shuffle_bytes"] += sd.shuffleReadBytes() + sd.shuffleWriteBytes()
            acc["spill_bytes"] += sd.memoryBytesSpilled() + sd.diskBytesSpilled()
        for span_id, frame in self.frames:
            phases = frame._jdf.queryExecution().tracker().phases()
            ms = 0
            for p in _PHASES:
                opt = phases.get(p)
                if opt.isDefined():
                    ms += opt.get().durationMs()
            out.setdefault(span_id, _zero_stats())["catalyst_ms"] += ms
        return out


def _scala_items(seq):
    it = seq.iterator()
    while it.hasNext():
        yield it.next()


SPARK_KEYS = ("jobs", "stages", "tasks", "task_ms", "cpu_ms", "shuffle_bytes", "spill_bytes", "catalyst_ms")


def _zero_stats() -> dict:
    return {k: 0.0 for k in SPARK_KEYS}


def self_times(spans: list[dict]) -> dict[int, float]:
    """Span id -> self seconds: its duration minus the part of its interval
    covered by its child spans (overlapping children counted once)."""
    children: dict[int, list[dict]] = {}
    for s in spans:
        if s["parent"] is not None:
            children.setdefault(s["parent"], []).append(s)
    out = {}
    for s in spans:
        covered, cur_a, cur_b = 0.0, None, None
        for c in sorted(children.get(s["id"], []), key=lambda c: c["start"]):
            a, b = max(c["start"], s["start"]), min(c["end"], s["end"])
            if b <= a:
                continue
            if cur_b is None or a > cur_b:
                if cur_b is not None:
                    covered += cur_b - cur_a
                cur_a, cur_b = a, b
            else:
                cur_b = max(cur_b, b)
        if cur_b is not None:
            covered += cur_b - cur_a
        out[s["id"]] = (s["end"] - s["start"]) - covered
    return out


def inclusive_stats(spans: list[dict], own: dict[int, dict]) -> dict[int, dict]:
    """Span id -> Spark stats of the span and all its descendants."""
    children: dict[int, list[int]] = {}
    for s in spans:
        if s["parent"] is not None:
            children.setdefault(s["parent"], []).append(s["id"])
    memo: dict[int, dict] = {}

    def total(sid: int) -> dict:
        if sid not in memo:
            acc = dict(own.get(sid, _zero_stats()))
            for c in children.get(sid, []):
                for k, v in total(c).items():
                    acc[k] += v
            memo[sid] = acc
        return memo[sid]

    return {s["id"]: total(s["id"]) for s in spans}
