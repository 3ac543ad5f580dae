"""Metric tables and how each value is computed.

``E2E`` are the end-to-end metrics of an untraced run, the same names on
every workload: what one operation costs a user, how many complete per
second, LSH answer quality, set-up time and memory held. An operation is one
``VectorDbApi.search`` request (search), one API call of the CRUD mix
(crud) or one run of the four-step pipeline over the corpus (batch).

``PER_LAYER`` are the traced run's metrics, keyed by the program's module
names. Times are means per call unless the name says p50; Spark figures
(``SPARK_SUFFIXES``) are per call of the span, including its child spans.
A metric of a layer a workload does not reach reads 0. ``CRUD_LAYER`` are
the write-path metrics only the ``crud`` workload reaches; a traced
``crud`` run prints them after ``PER_LAYER``.
"""

from __future__ import annotations

import statistics
from dataclasses import dataclass

from .trace import inclusive_stats, self_times
from .workloads import STEPS, median


@dataclass(frozen=True)
class Metric:
    name: str
    unit: str
    better: str
    bound: float | None = None


# Bounds come from ten seeds per workload on a shared 4-core VM, where
# whole runs slow down together: time metrics spread (quartile distance
# over median) 11-19 % between seeds, lsh_recall 4 %, memory_mb under 1 %.
E2E = (
    Metric("setup_s", "s", "lower", 0.25),
    Metric("p50_ms", "ms", "lower", 0.25),
    Metric("p90_ms", "ms", "lower", 0.25),
    Metric("ops_per_s", "1/s", "higher", 0.25),
    Metric("lsh_recall", "ratio", "higher", 0.25),
    Metric("memory_mb", "MB", "lower", 0.1),
)

# span groups that get the Spark suffixes: metric prefix -> span names
SPARK_GROUPS = {
    "api.search": ("api.search",),
    "engine.search": ("engine.search",),
    "engine.collect": ("engine.to_dict",),
    "storage.index_store.refresh": ("storage.index_store.refresh",),
    **{f"step.{s}": (f"step.{s}",) for s in STEPS},
}
SPARK_SUFFIXES = (
    ("jobs", "count"),
    ("stages", "count"),
    ("tasks", "count"),
    ("task_ms", "ms"),
    ("cpu_ms", "ms"),
    ("shuffle_bytes", "bytes"),
    ("spill_bytes", "bytes"),
    ("catalyst_ms", "ms"),
    ("busy_share", "ratio"),
)

_BASE = (
    ("api.search.self_ms", "ms"),
    ("engine.search.self_ms", "ms"),
    ("engine.collect_ms", "ms"),
    ("engine.lsh_fallback_share", "ratio"),
    ("storage.store.get_library_ms", "ms"),
    ("storage.store.library_version_ms", "ms"),
    ("storage.store.add_chunks_bulk_s", "s"),
    ("storage.index_store.refresh_ms", "ms"),
    ("storage.index_store.rebuilds", "count"),
    ("storage.index_store.index_df_ms", "ms"),
    ("storage.index_store.bytes_written_per_rebuild", "bytes"),
    ("embedding.provider.embed_text_ms", "ms"),
    ("operators.lsh.lsh_topk_batch_s", "s"),
    ("operators.dbscan.cluster_s", "s"),
    ("operators.dbscan.dup_recall", "ratio"),
    ("session.start_s", "s"),
    ("batch.rows_per_s", "rows/s"),
    ("trace_overhead", "ratio"),
)

_HIGHER = {"operators.dbscan.dup_recall", "batch.rows_per_s"}


def _table(base, groups) -> tuple[Metric, ...]:
    return tuple(Metric(n, u, "higher" if n in _HIGHER else "lower") for n, u in base) + tuple(
        Metric(f"{g}.{s}", u, "lower") for g in groups for s, u in SPARK_SUFFIXES
    )


PER_LAYER = _table(_BASE, SPARK_GROUPS)

# write-path metrics, reached only by ``crud``
CRUD_SPARK_GROUPS = {"api.write": ("api.add_chunk", "api.update_chunk", "api.delete_chunk")}
CRUD_LAYER = _table(
    (
        ("api.write.self_ms", "ms"),
        ("api.write.p50_ms", "ms"),
        ("api.search.fresh_p50_ms", "ms"),
        ("storage.store.add_chunk_ms", "ms"),
        ("storage.store.update_chunk_ms", "ms"),
        ("storage.store.delete_chunk_ms", "ms"),
        ("storage.store.bytes_written_per_user_byte", "ratio"),
    ),
    CRUD_SPARK_GROUPS,
)


def per_layer_table(workload: str) -> tuple[Metric, ...]:
    """The metrics a traced run of ``workload`` prints."""
    return PER_LAYER + CRUD_LAYER if workload == "crud" else PER_LAYER


def _p(xs, q: float) -> float:
    """The q-quantile (0 < q < 1) by linear interpolation; 0.0 when empty."""
    if not xs:
        return 0.0
    if len(xs) == 1:
        return float(xs[0])
    return float(statistics.quantiles(xs, n=100, method="inclusive")[round(q * 100) - 1])


def end_to_end(result, session_s: float, mem_mb: float) -> dict:
    w = result.windows[0]
    return {
        "setup_s": session_s + median(result.setup_s),
        "p50_ms": _p(w.lat_ms, 0.5),
        "p90_ms": _p(w.lat_ms, 0.9),
        "ops_per_s": len(w.lat_ms) / w.wall_s,
        "lsh_recall": statistics.fmean(w.recalls) if w.recalls else 0.0,
        "memory_mb": mem_mb,
    }


def per_layer(result, spans, session_spans, stats, ctx, cores) -> dict:
    before, traced, after = result.windows
    selfs = self_times(spans)
    incl = inclusive_stats(spans, stats)
    by_name: dict[str, list[dict]] = {}
    for s in spans:
        by_name.setdefault(s["name"], []).append(s)

    def calls(*names):
        return [s for n in names for s in by_name.get(n, [])]

    def mean_ms(*names, scale=1000.0, pred=None) -> float:
        ss = [s for s in calls(*names) if pred is None or pred(s)]
        return statistics.fmean((s["end"] - s["start"]) * scale for s in ss) if ss else 0.0

    def mean_self_ms(*names) -> float:
        ss = calls(*names)
        return statistics.fmean(selfs[s["id"]] * 1000 for s in ss) if ss else 0.0

    rebuilt = [s for s in calls("storage.index_store.refresh") if s.get("ret")]
    ex = traced.extra
    disk_b, disk_a = ctx.disk_before, ctx.disk_after
    user_bytes = sum(ex.get("user_bytes", []))
    store_growth = disk_a.get("store_bytes", 0) - disk_b.get("store_bytes", 0)
    index_growth = disk_a.get("index_bytes", 0) - disk_b.get("index_bytes", 0)
    passes = len(ex.get("steps", {}).get("load", []))
    # the untraced windows on either side of the traced one, so that
    # warm-up still under way favours neither; where the first window runs
    # cold (batch) only the one after, which leaves warm-up favouring the
    # untraced side, so the ratio errs high
    untraced = [after] if result.extra.get("cold_first_window") else [before, after]
    p50_u = statistics.fmean(_p(w.lat_ms, 0.5) for w in untraced)
    p50_t = _p(traced.lat_ms, 0.5)
    v = {
        "api.search.self_ms": mean_self_ms("api.search"),
        "api.write.self_ms": mean_self_ms("api.add_chunk", "api.update_chunk", "api.delete_chunk"),
        "api.write.p50_ms": _p(ex.get("write_ms", []), 0.5),
        "api.search.fresh_p50_ms": _p(ex.get("fresh_search_ms", []), 0.5),
        "engine.search.self_ms": mean_self_ms("engine.search"),
        "engine.collect_ms": mean_ms("engine.to_dict"),
        "engine.lsh_fallback_share": ex.get("lsh_fallback", 0) / ex["lsh"] if ex.get("lsh") else 0.0,
        "storage.store.get_library_ms": mean_ms("storage.store.get_library"),
        "storage.store.library_version_ms": mean_ms("storage.store.library_version"),
        "storage.store.add_chunk_ms": mean_ms("storage.store.add_chunk"),
        "storage.store.update_chunk_ms": mean_ms("storage.store.update_chunk"),
        "storage.store.delete_chunk_ms": mean_ms("storage.store.delete_chunk"),
        "storage.store.bytes_written_per_user_byte": store_growth / user_bytes if user_bytes else 0.0,
        "storage.store.add_chunks_bulk_s": mean_ms("step.load", scale=1.0),
        "storage.index_store.refresh_ms": mean_ms("storage.index_store.refresh", pred=lambda s: s.get("ret")),
        "storage.index_store.rebuilds": len(rebuilt),
        "storage.index_store.index_df_ms": mean_ms("storage.index_store.index_df"),
        "storage.index_store.bytes_written_per_rebuild": index_growth / len(rebuilt) if rebuilt else 0.0,
        "embedding.provider.embed_text_ms": mean_ms("embedding.provider.embed_text"),
        "operators.lsh.lsh_topk_batch_s": mean_ms("step.knn_join", scale=1.0),
        "operators.dbscan.cluster_s": mean_ms("step.emb_cluster", scale=1.0),
        "operators.dbscan.dup_recall": median(ex.get("emb_dup_recall", [])),
        "session.start_s": sum(s["end"] - s["start"] for s in session_spans),
        "batch.rows_per_s": (
            result.extra["rows"] * passes / (sum(traced.lat_ms) / 1000) if passes else 0.0
        ),
        "trace_overhead": p50_t / p50_u if p50_u else 0.0,
    }
    for group, names in {**SPARK_GROUPS, **CRUD_SPARK_GROUPS}.items():
        ss = calls(*names)
        for key, _ in SPARK_SUFFIXES:
            if not ss:
                v[f"{group}.{key}"] = 0.0
            elif key == "busy_share":
                wall_ms = sum((s["end"] - s["start"]) * 1000 for s in ss)
                v[f"{group}.{key}"] = sum(incl[s["id"]]["task_ms"] for s in ss) / (wall_ms * cores)
            else:
                v[f"{group}.{key}"] = statistics.fmean(incl[s["id"]][key] for s in ss)
    if set(v) != {m.name for m in PER_LAYER + CRUD_LAYER}:
        raise RuntimeError("per-layer values do not match the metric tables")
    return v


def benchmark_json() -> dict:
    """The metric part of BENCHMARK.json, generated from these tables."""
    return {
        "end_to_end": [
            {"name": m.name, "unit": m.unit, "better": m.better, "bound": m.bound} for m in E2E
        ],
        "per_layer": [{"name": m.name, "unit": m.unit, "better": m.better} for m in PER_LAYER],
    }

