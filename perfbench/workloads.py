"""The three workloads: served search, CRUD beside search, batch pipeline.

Each workload sets up (several times, so set-up time is a median), warms
the code paths it will time (batch does not: see ``run_batch``), runs its
measurement windows (one untraced; untraced, traced, untraced in a traced
run), checks every answer against the numpy oracle, and returns a
:class:`Result`.
All load comes from this one process; search uses 2 client threads,
crud 1, batch runs its steps back to back.
"""

from __future__ import annotations

import itertools
import os
import statistics
import sys
import threading
import time
from dataclasses import dataclass, field

import numpy as np
from pyspark.sql import functions as F

from . import gen, oracle

SETUP_REPS = 3


@dataclass
class Spec:
    """Sizes of one workload; the defaults are the benchmark's, tests pass
    tiny ones."""

    search_rows: int = 2000
    search_clients: int = 2
    crud_rows: int = 4000
    dim: int = 64  # search and crud
    clusters: int = 16
    sigma: float = 0.35
    batch_rows: int = 300
    batch_dim: int = 384  # the store's default_dim
    batch_query_share: float = 0.1
    batch_k: int = 10
    lsh_probe: int = 6  # crud: served LSH searches after the window
    lsh_panel: int = 24  # search: distinct LSH queries lsh_recall is taken over


TINY = Spec(
    search_rows=300, crud_rows=200, dim=16, clusters=4, batch_rows=120,
    batch_dim=16, batch_query_share=0.1, lsh_probe=2, lsh_panel=4,
)


@dataclass
class Window:
    """One measurement window: per-operation latencies and outcomes."""

    wall_s: float = 0.0
    lat_ms: list[float] = field(default_factory=list)
    attempted: int = 0
    failed: int = 0
    recalls: list[float] = field(default_factory=list)
    extra: dict = field(default_factory=dict)


@dataclass
class Result:
    setup_s: list[float]
    windows: list[Window]
    errors: list[str]
    extra: dict = field(default_factory=dict)


def closed_loop(seconds: float, clients: int, step) -> float:
    """Run ``step(client)`` back to back on ``clients`` threads until
    ``seconds`` have passed (each client finishes the operation it is in).
    ``step`` returns False when it has nothing left to do. Returns wall s."""
    deadline = time.perf_counter() + seconds
    errors: list[BaseException] = []

    def client(i: int) -> None:
        try:
            while time.perf_counter() < deadline and step(i):
                pass
        except BaseException as e:  # noqa: BLE001 — re-raised in the caller
            errors.append(e)

    t0 = time.perf_counter()
    threads = [threading.Thread(target=client, args=(i,)) for i in range(clients)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    if errors:
        raise errors[0]
    return time.perf_counter() - t0


def _note(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr)


def _timed_setup(build, reps: int = SETUP_REPS):
    """Run ``build(rep)`` ``reps`` times; return (seconds per rep, last value)."""
    times, value = [], None
    for rep in range(reps):
        t0 = time.perf_counter()
        value = build(rep)
        times.append(time.perf_counter() - t0)
    return times, value


def _serving_stack(ctx, rep: int, dim: int):
    from vector_db_mvp_spark.api import VectorDbApi
    from vector_db_mvp_spark.engine import SearchEngine
    from vector_db_mvp_spark.storage.index_store import ChunkIndexStore
    from vector_db_mvp_spark.storage.store import EntityStore

    store = EntityStore(ctx.spark, os.path.join(ctx.tmp, f"store{rep}"), default_dim=dim)
    index = ChunkIndexStore(store, os.path.join(ctx.tmp, f"index{rep}"))
    return store, index, VectorDbApi(SearchEngine(store, index))


def _load_library(ctx, store, index, lib: gen.Library, rep: int) -> tuple[str, str]:
    """Create one library with one document, bulk-load its chunks and build
    (and materialize) its serving index."""
    path = os.path.join(ctx.tmp, f"{lib.tag}-{rep}.parquet")
    gen.write_chunks(path, lib.ids, lib.texts, lib.emb, lib.has_emb, lib.meta)
    lib_id = store.create_library(lib.tag)
    doc_id = store.add_document(lib_id, f"{lib.tag}-doc")
    store.add_chunks_bulk(
        lib_id, doc_id, ctx.spark.read.parquet(path), id_col="id", meta_type_col="meta_type"
    )
    index.index_df(lib_id)
    return lib_id, doc_id


def _exact(lib: gen.Library) -> oracle.ExactIndex:
    live = lib.has_emb
    return oracle.ExactIndex(np.asarray(lib.ids)[live], lib.emb[live], lib.meta[live])


def _query_vector(q: gen.Query, dim: int):
    if "query_embedding" in q.body:
        return np.asarray(q.body["query_embedding"])
    return gen.hash_embedding(q.body["query_text"], dim)


def check_search(resp: dict, q: gen.Query, exact: oracle.ExactIndex, dim: int) -> tuple[str | None, float]:
    """Gate one search reply; returns (error or None, LSH recall@k)."""
    hits = resp["hits"]
    k = q.body["k"]
    meta = (q.body.get("filters") or {}).get("meta_type")
    qv = _query_vector(q, dim)
    if q.body["index"] == "brute" or resp.get("index_used") == "brute":
        return oracle.check_exact(hits, exact, qv, k, meta), 1.0
    err = oracle.check_scores(hits, exact, qv, meta, k)
    return err, oracle.recall([h["chunk_id"] for h in hits], exact.topk(qv, k, meta)[0])


# ---- search ---------------------------------------------------------------


def run_search(ctx, spec: Spec, windows: list[float]) -> Result:
    rng = np.random.default_rng(ctx.seed)
    lib = gen.make_library(rng, "lib", spec.search_rows, spec.dim, clusters=spec.clusters, sigma=spec.sigma)
    stream = gen.LazyStream(gen.iter_queries(rng, lib))

    def build(rep: int):
        store, index, api = _serving_stack(ctx, rep, spec.dim)
        return api, _load_library(ctx, store, index, lib, rep)[0]

    setup_s, (api, lib_id) = _timed_setup(build)
    exact = _exact(lib)
    errors: list[str] = []

    recall_of: dict[int, float] = {}  # id(query) -> LSH recall@k of its reply

    def gate(q, resp, w: Window) -> None:
        err, rec = check_search(resp, q, exact, spec.dim)
        if err:
            errors.append(f"search {q.kind}: {err}")
        if q.body["index"] == "lsh":
            recall_of[id(q)] = rec
            w.extra["lsh"] = w.extra.get("lsh", 0) + 1
            w.extra["lsh_fallback"] = w.extra.get("lsh_fallback", 0) + (
                resp.get("index_used") == "brute"
            )

    # warm: one request of every kind, answers checked
    t_warm = time.perf_counter()
    warm = Window()
    seen = set()
    for q in stream:
        if q.kind not in seen:
            seen.add(q.kind)
            gate(q, api.search(lib_id, dict(q.body)), warm)
            if len(seen) == len(gen.SEARCH_MIX):
                break

    warm_s = time.perf_counter() - t_warm
    out = []
    pos = itertools.count()
    lock = threading.Lock()
    for seconds in windows:
        w = Window()
        replies: list = []

        def step(_client: int, w=w, replies=replies) -> bool:
            with lock:
                q = stream[next(pos)]
            t0 = time.perf_counter()
            try:
                resp = api.search(lib_id, dict(q.body))
            except Exception as e:  # noqa: BLE001 — counted as a failed op
                _note(f"search raised {type(e).__name__}: {e}")
                resp = e
            dt = (time.perf_counter() - t0) * 1000
            with lock:
                w.attempted += 1
                if isinstance(resp, Exception):
                    w.failed += 1
                else:
                    w.lat_ms.append(dt)
                    w.extra.setdefault("kind_ms", {}).setdefault(q.kind, []).append(dt)
                    replies.append((q, resp))
            return True

        ctx.before_window(len(out))
        w.wall_s = closed_loop(seconds, spec.search_clients, step)
        ctx.after_window(len(out))
        for q, resp in replies:
            gate(q, resp, w)
        out.append(w)
    # LSH recall over a fixed panel, the first distinct LSH queries of the
    # stream, so it does not depend on how many the window reached; panel
    # queries the windows did not send are sent now, untimed, by the
    # window's clients
    panel: dict[int, gen.Query] = {}
    for q in stream:
        if q.kind == "lsh_k5":
            panel.setdefault(id(q), q)
            if len(panel) == spec.lsh_panel:
                break
    panel_list = list(panel.values())
    todo = iter([q for q in panel_list if id(q) not in recall_of])

    def send(_client: int) -> bool:
        with lock:
            q = next(todo, None)
        if q is None:
            return False
        resp = api.search(lib_id, dict(q.body))
        with lock:
            gate(q, resp, Window())
        return True

    closed_loop(float("inf"), spec.search_clients, send)
    for w in out:
        w.recalls = [recall_of[id(q)] for q in panel_list]
    return Result(setup_s, out, errors, {"warm_s": warm_s})


# ---- crud -----------------------------------------------------------------


def run_crud(ctx, spec: Spec, windows: list[float]) -> Result:
    rng = np.random.default_rng(ctx.seed)
    lib = gen.make_library(rng, "crud", spec.crud_rows, spec.dim, clusters=spec.clusters, sigma=spec.sigma)
    ops = gen.crud_ops(rng, 5000)

    def build(rep: int):
        store, index, api = _serving_stack(ctx, rep, spec.dim)
        return store, index, api, _load_library(ctx, store, index, lib, rep)

    setup_s, (store, index, api, (lib_id, doc_id)) = _timed_setup(build)
    # the benchmark's model of the library: every live chunk id, and the
    # embedding / meta_type of the embedded ones
    all_ids = set(lib.ids)
    live = {
        cid: (lib.emb[i], lib.meta[i]) for i, cid in enumerate(lib.ids) if lib.has_emb[i]
    }
    state = {"version": store.library_version(lib_id), "prev": None, "n_new": 0}
    errors: list[str] = []

    def exact_now() -> oracle.ExactIndex:
        ids = sorted(live)
        return oracle.ExactIndex(ids, np.stack([live[c][0] for c in ids]), [live[c][1] for c in ids])

    def new_chunk() -> tuple[np.ndarray, str, dict]:
        emb = gen.mixture(rng, 1, lib.centers, spec.sigma)[0]
        emb = np.round(emb.astype(np.float64), 6).astype(np.float32)
        meta = gen.META_TYPES[int(rng.integers(3))]
        state["n_new"] += 1
        text = f"crud new {state['n_new']} w{int(rng.integers(2000))}"
        return emb, meta, {
            "text": text,
            "embedding": [float(x) for x in emb],
            "metadata": {"type": meta},
        }

    def do(kind: str, w: Window) -> None:
        """One API call of ``kind``; the model and gate follow the reply."""
        prev = state["prev"]
        if kind == "add":
            emb, meta, body = new_chunk()
            t0 = time.perf_counter()
            cid = api.add_chunk(lib_id, doc_id, body)["id"]
            dt = time.perf_counter() - t0
            live[cid] = (emb, meta)
            all_ids.add(cid)
            state["prev"] = ("add", cid, emb)
        elif kind == "update":
            cid = sorted(live)[int(rng.integers(len(live)))]
            emb, meta, body = new_chunk()
            t0 = time.perf_counter()
            got = api.update_chunk(lib_id, doc_id, cid, body)
            dt = time.perf_counter() - t0
            live[cid] = (emb, meta)
            if got["id"] != cid or got["metadata"]["type"] != meta:
                errors.append(f"update: reply {got['id']} / {got['metadata']['type']}")
            state["prev"] = ("update", cid, emb)
        elif kind == "delete":
            ids = sorted(all_ids)
            cid = ids[int(rng.integers(len(ids)))]
            t0 = time.perf_counter()
            api.delete_chunk(lib_id, doc_id, cid)
            dt = time.perf_counter() - t0
            all_ids.discard(cid)
            live.pop(cid, None)
            state["prev"] = ("delete", cid, None)
        else:
            fresh = prev is not None
            if prev is not None and prev[0] == "add":
                qv = [float(x) for x in prev[2]]
            else:
                ids = sorted(live)
                base = live[ids[int(rng.integers(len(ids)))]][0].astype(np.float64)
                qv = [round(float(x), 6) for x in base + 0.1 * rng.standard_normal(len(base))]
            q = gen.Query("brute_k5", {"k": 5, "index": "brute", "query_embedding": qv})
            t0 = time.perf_counter()
            resp = api.search(lib_id, dict(q.body))
            dt = time.perf_counter() - t0
            err, _ = check_search(resp, q, exact_now(), spec.dim)
            if err:
                errors.append(f"crud search: {err}")
            if prev is not None and prev[0] == "add" and (
                not resp["hits"] or resp["hits"][0]["chunk_id"] != prev[1]
            ):
                errors.append(f"crud: search for just-added {prev[1]} did not return it first")
            if resp["library_version"] != state["version"]:
                errors.append(
                    f"crud: version {resp['library_version']} != expected {state['version']}"
                )
            state["prev"] = None
            if fresh:
                w.extra.setdefault("fresh_search_ms", []).append(dt * 1000)
        if kind != "search":
            state["version"] += 1
            w.extra.setdefault("write_ms", []).append(dt * 1000)
            w.extra.setdefault("user_bytes", []).append(len(repr(body)) if kind != "delete" else len(cid))
        w.lat_ms.append(dt * 1000)

    # warm: one of each write and a fresh search after each
    t_warm = time.perf_counter()
    warm = Window()
    for kind in ("add", "search", "update", "delete", "search"):
        do(kind, warm)
    warm_s = time.perf_counter() - t_warm

    out = []
    it = iter(ops)
    for seconds in windows:
        w = Window()

        def step(_client: int, w=w) -> bool:
            kind = next(it, None)
            if kind is None:
                return False
            w.attempted += 1
            try:
                do(kind, w)
            except Exception as e:  # noqa: BLE001 — counted as a failed op
                # the model can no longer follow the library, so the run's
                # later answers cannot be checked: also a wrong answer
                w.failed += 1
                state["prev"] = None
                errors.append(f"crud {kind} raised {type(e).__name__}: {e}")
            return True

        ctx.before_window(len(out))
        w.wall_s = closed_loop(seconds, 1, step)
        ctx.after_window(len(out))
        out.append(w)

    # final state: version and exactly the expected chunks
    final = api.search(lib_id, {"k": 1, "query_embedding": [1.0] * spec.dim})
    if final["library_version"] != state["version"]:
        errors.append(f"crud: final version {final['library_version']} != {state['version']}")
    listed = {r["chunk_id"] for r in store.list_chunks(lib_id, doc_id).select("chunk_id").collect()}
    if listed != all_ids:
        errors.append(f"crud: {len(listed)} chunks listed, expected {len(all_ids)}")
    # LSH recall after the writes, on a fixed panel of served searches
    probe = Window()
    exact = exact_now()
    ids = sorted(live)
    for _ in range(spec.lsh_probe):
        base = live[ids[int(rng.integers(len(ids)))]][0].astype(np.float64)
        qv = [round(float(x), 6) for x in base + 0.1 * rng.standard_normal(len(base))]
        q = gen.Query("lsh_k5", {"k": 5, "index": "lsh", "query_embedding": qv})
        err, rec = check_search(api.search(lib_id, dict(q.body)), q, exact, spec.dim)
        if err:
            errors.append(f"crud lsh: {err}")
        probe.recalls.append(rec)
    for w in out:
        w.recalls = probe.recalls
    return Result(setup_s, out, errors, {"warm_s": warm_s})


# ---- batch ----------------------------------------------------------------

STEPS = ("load", "index_build", "knn_join", "emb_cluster")
LSH_TABLES, LSH_PLANES = 4, 8


def batch_pass(ctx, corpus: gen.Corpus, path: str, tag: str, k: int, query_share: float, span):
    """One run of the pipeline over ``corpus`` (already written to
    ``path``) in a fresh store. ``span(name)`` wraps each step.
    Returns (step seconds, outputs for the gate)."""
    from vector_db_mvp_spark.functions.lsh import generate_planes
    from vector_db_mvp_spark.operators import dbscan, lsh
    from vector_db_mvp_spark.storage.index_store import ChunkIndexStore
    from vector_db_mvp_spark.storage.store import EntityStore

    spark = ctx.spark
    dim = corpus.emb.shape[1]
    store = EntityStore(spark, os.path.join(ctx.tmp, f"bstore-{tag}"), default_dim=dim)
    index = ChunkIndexStore(store, os.path.join(ctx.tmp, f"bindex-{tag}"))
    lib_id = store.create_library(f"batch-{tag}")
    doc_id = store.add_document(lib_id, "corpus")
    planes = generate_planes(dim, LSH_TABLES, LSH_PLANES, seed=7)
    n_q = max(1, int(round(len(corpus.ids) * query_share)))
    t: dict[str, float] = {}
    got: dict = {}

    def timed(name, fn):
        t0 = time.perf_counter()
        with span(f"step.{name}"):
            got[name] = fn()
        t[name] = time.perf_counter() - t0

    timed("load", lambda: store.add_chunks_bulk(lib_id, doc_id, spark.read.parquet(path), id_col="id"))
    timed("index_build", lambda: index.refresh(lib_id))
    chunks = store.read_chunks_library(lib_id)
    queries = chunks.filter(F.col("chunk_id") < corpus.ids[n_q]).select(
        F.col("chunk_id").alias("query_id"), F.col("embedding").alias("query_embedding")
    )
    timed("knn_join", lambda: lsh.lsh_topk_batch(queries, chunks, k, planes, id_col="chunk_id").collect())

    def emb_cluster():
        pairs = dbscan.knn_edges_lsh(chunks, planes, k=k, tau=0.3, id_col="chunk_id", num_partitions=ctx.cores)
        points = chunks.select(F.col("chunk_id").alias("id"))
        return dbscan.dbscan(points, pairs, min_pts=5, num_partitions=ctx.cores).collect()

    timed("emb_cluster", emb_cluster)
    got["index_current"] = index.built_version(lib_id) == store.library_version(lib_id)
    got["n_q"] = n_q
    return t, got


def check_batch(corpus: gen.Corpus, got: dict, k: int, errors: list[str], w: Window) -> None:
    """Recompute in numpy what the pipeline reported; fills recalls and the
    planted-duplicate recalls."""
    n = len(corpus.ids)
    pos = {cid: i for i, cid in enumerate(corpus.ids)}
    if got["load"] != n:
        errors.append(f"batch load: {got['load']} rows, expected {n}")
    if got["index_build"] is not True or not got["index_current"]:
        errors.append("batch index_build: index not rebuilt to the library version")
    exact = oracle.ExactIndex(corpus.ids, corpus.emb, ["x"] * n)
    by_q: dict[str, list] = {}
    for r in got["knn_join"]:
        by_q.setdefault(r["query_id"], []).append(r)
    if len(by_q) != got["n_q"]:
        errors.append(f"batch knn_join: {len(by_q)} queries answered, expected {got['n_q']}")
    for qid, rows in by_q.items():
        rows.sort(key=lambda r: r["rank"])
        hits = [{"chunk_id": r["chunk_id"], "score": r["score"], "meta_type": "x"} for r in rows]
        qv = corpus.emb[pos[qid]]
        err = oracle.check_scores(hits, exact, qv, None, k)
        if err:
            errors.append(f"batch knn_join {qid}: {err}")
        w.recalls.append(oracle.recall([h["chunk_id"] for h in hits], exact.topk(qv, k)[0]))
    roles = got["emb_cluster"]
    if len(roles) != n or {r["role"] for r in roles} - {"core", "border", "noise"}:
        errors.append(f"batch emb_cluster: {len(roles)} rows / roles {sorted({r['role'] for r in roles})}")
    if any((r["role"] == "noise") != (r["cluster_id"] is None) for r in roles):
        errors.append("batch emb_cluster: noise rows must be exactly the unlabeled ones")
    dups = [(corpus.ids[a], corpus.ids[b]) for a, b in corpus.dup_pairs]
    w.extra.setdefault("emb_dup_recall", []).append(
        oracle.pair_recall(dups, {r["id"]: r["cluster_id"] for r in roles})
    )


def run_batch(ctx, spec: Spec, windows: list[float]) -> Result:
    def build(rep: int):
        rng = np.random.default_rng(ctx.seed)
        corpus = gen.batch_corpus(rng, spec.batch_rows, spec.batch_dim, sigma=spec.sigma)
        path = os.path.join(ctx.tmp, f"corpus-{rep}.parquet")
        gen.write_chunks(path, corpus.ids, corpus.texts, corpus.emb, np.ones(len(corpus.ids), bool))
        return corpus, path

    setup_s, (corpus, path) = _timed_setup(build)
    errors: list[str] = []
    # No warm-up: a batch job runs once in a fresh session and pays its
    # code generation and JIT compilation on every run, so the first window
    # times the first pass, cold. Later windows (traced runs) run warm.
    out = []
    passes = itertools.count()
    for seconds in windows:
        w = Window()
        w.extra["steps"] = {s: [] for s in STEPS}

        def step(_client: int, w=w) -> bool:
            i = next(passes)
            w.attempted += 1
            try:
                t, got = batch_pass(
                    ctx, corpus, path, str(i), spec.batch_k, spec.batch_query_share, ctx.span
                )
            except Exception as e:  # noqa: BLE001 — counted as a failed op
                w.failed += 1
                _note(f"batch pass raised {type(e).__name__}: {e}")
                return True
            w.lat_ms.append(sum(t.values()) * 1000)
            for s in STEPS:
                w.extra["steps"][s].append(t[s])
            check_batch(corpus, got, spec.batch_k, errors, w)
            return True

        ctx.before_window(len(out))
        w.wall_s = closed_loop(seconds, 1, step)
        ctx.after_window(len(out))
        out.append(w)
    return Result(setup_s, out, errors, {"rows": len(corpus.ids), "warm_s": 0.0, "cold_first_window": True})


WORKLOADS = {"search": run_search, "crud": run_crud, "batch": run_batch}


def median(xs) -> float:
    return float(statistics.median(xs)) if xs else 0.0
