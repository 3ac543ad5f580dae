"""Tests of the benchmark itself, at tiny scale.

    python3 -m pytest perfbench -q

The gate and tracer tests run in-process without Spark; the end-to-end
tests run ``perfbench/run.py --scale tiny`` in a subprocess (it starts and
stops its own JVM) and read the JSON line and the trace file it writes.
"""

from __future__ import annotations

import itertools
import json
import subprocess
import sys
from pathlib import Path

import numpy as np
import pytest

from perfbench import gen, metrics, oracle
from perfbench.trace import self_times
from perfbench.workloads import check_search

ROOT = Path(__file__).resolve().parents[1]


def _run(workload: str, trace: int, seed: int = 5, seconds: int = 2) -> dict:
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", str(seed),
         "--seconds", str(seconds), "--trace", str(trace), "--scale", "tiny"],
        cwd=ROOT, capture_output=True, text=True, timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    return json.loads(proc.stdout.strip().splitlines()[-1])


def test_benchmark_json_matches_metric_tables():
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    assert {k: spec[k] for k in ("end_to_end", "per_layer")} == metrics.benchmark_json()
    assert [w["name"] for w in spec["workloads"]] == ["search", "batch"]
    # the write-path metrics only crud reaches stay out of BENCHMARK.json
    assert not {m.name for m in metrics.CRUD_LAYER} & {m["name"] for m in spec["per_layer"]}


@pytest.mark.parametrize("workload", ["search", "crud", "batch"])
def test_untraced_run_names_every_end_to_end_metric(workload):
    out = _run(workload, 0)
    assert out["correct"] is True and out["failed"] == 0 and out["attempted"] >= 1
    assert {n: m["unit"] for n, m in out["metrics"].items()} == {m.name: m.unit for m in metrics.E2E}
    assert all(m["value"] > 0 for m in out["metrics"].values())


def test_traced_run_names_every_per_layer_metric_and_self_times_fit():
    out = _run("crud", 1, seconds=8)
    assert out["correct"] is True
    assert {n: m["unit"] for n, m in out["metrics"].items()} == {
        m.name: m.unit for m in metrics.PER_LAYER + metrics.CRUD_LAYER
    }
    v = {n: m["value"] for n, m in out["metrics"].items()}
    assert v["api.write.self_ms"] > 0 or v["api.search.self_ms"] > 0
    if v["api.search.fresh_p50_ms"] > 0:  # a search right after a write rebuilt the index
        assert v["storage.index_store.rebuilds"] >= 1 and v["api.search.jobs"] >= 1
    spans = json.loads((ROOT / ".perfbench_out" / "trace-crud-5.json").read_text())["spans"]
    _assert_self_times_fit(spans)


def _assert_self_times_fit(spans):
    selfs = self_times(spans)
    by_req: dict[int, list[dict]] = {}
    for s in spans:
        by_req.setdefault(s["request"], []).append(s)
    assert by_req
    for req, ss in by_req.items():
        root = next(s for s in ss if s["id"] == req)
        assert all(selfs[s["id"]] >= -1e-9 for s in ss)
        assert sum(selfs[s["id"]] for s in ss) <= root["end"] - root["start"] + 1e-9


def _span(i, parent, start, end):
    return {"id": i, "name": f"s{i}", "parent": parent, "request": 1, "start": start, "end": end}


def test_self_times_subtract_children():
    nested = [_span(1, None, 0.0, 10.0), _span(2, 1, 1.0, 4.0), _span(3, 1, 4.5, 6.0), _span(4, 2, 1.5, 2.0)]
    assert self_times(nested) == pytest.approx({1: 5.5, 2: 2.5, 3: 1.5, 4: 0.5})
    _assert_self_times_fit(nested)
    # children that overlap in time (work on other threads) are subtracted once
    overlapping = [_span(1, None, 0.0, 10.0), _span(2, 1, 1.0, 4.0), _span(3, 1, 3.0, 6.0)]
    assert self_times(overlapping)[1] == pytest.approx(5.0)


def _library():
    rng = np.random.default_rng(0)
    lib = gen.make_library(rng, "t", 300, 16, clusters=4, sigma=0.3)
    live = lib.has_emb
    exact = oracle.ExactIndex(np.asarray(lib.ids)[live], lib.emb[live], lib.meta[live])
    return lib, exact


def _reply(exact, qv, k, meta=None):
    ids, scores = exact.topk(qv, k, meta)
    return {"hits": [
        {"chunk_id": c, "score": float(s), "meta_type": exact.meta[exact.pos[c]]}
        for c, s in zip(ids, scores)
    ], "index_used": "brute"}


def test_gate_accepts_exact_and_catches_corrupted_hits():
    lib, exact = _library()
    qv = [float(x) for x in lib.emb[3] + 0.05]
    q = gen.Query("brute_k5", {"k": 5, "index": "brute", "query_embedding": qv})
    good = _reply(exact, qv, 5)
    assert check_search(good, q, exact, 16)[0] is None

    swapped = json.loads(json.dumps(good))
    swapped["hits"][0], swapped["hits"][1] = swapped["hits"][1], swapped["hits"][0]
    assert check_search(swapped, q, exact, 16)[0] is not None

    wrong_id = json.loads(json.dumps(good))
    wrong_id["hits"][4]["chunk_id"] = next(c for c in exact.ids if c not in {h["chunk_id"] for h in good["hits"]})
    assert check_search(wrong_id, q, exact, 16)[0] is not None

    bad_score = json.loads(json.dumps(good))
    bad_score["hits"][2]["score"] += 1e-3
    assert check_search(bad_score, q, exact, 16)[0] is not None

    short = {"hits": good["hits"][:4], "index_used": "brute"}
    assert check_search(short, q, exact, 16)[0] is not None


def test_gate_checks_filters_lsh_cosines_and_text_queries():
    lib, exact = _library()
    qv = [float(x) for x in lib.emb[7]]
    fq = gen.Query("f", {"k": 5, "index": "brute", "filters": {"meta_type": "c"}, "query_embedding": qv})
    assert check_search(_reply(exact, qv, 5, "c"), fq, exact, 16)[0] is None
    assert check_search(_reply(exact, qv, 5), fq, exact, 16)[0] is not None  # unfiltered answer

    lq = gen.Query("lsh_k5", {"k": 5, "index": "lsh", "query_embedding": qv})
    partial = _reply(exact, qv, 5)
    partial["index_used"] = "lsh"
    partial["hits"] = partial["hits"][:1] + partial["hits"][3:]
    err, rec = check_search(partial, lq, exact, 16)
    assert err is None and rec == pytest.approx(0.6)
    partial["hits"][1]["score"] = 0.5
    assert check_search(partial, lq, exact, 16)[0] is not None

    tq = gen.Query("text_k5", {"k": 5, "index": "brute", "query_text": "hello world"})
    tv = gen.hash_embedding("hello world", 16)
    assert check_search(_reply(exact, tv, 5), tq, exact, 16)[0] is None


def test_hash_embedding_matches_the_program_provider():
    from vector_db_mvp_spark.embedding.provider import HashEmbeddingProvider

    got = HashEmbeddingProvider().embed_text("some query text", 32)
    assert np.allclose(gen.hash_embedding("some query text", 32), got, atol=0)


def test_generators_are_seeded():
    a = gen.batch_corpus(np.random.default_rng(9), 200, 8)
    b = gen.batch_corpus(np.random.default_rng(9), 200, 8)
    assert a.ids == b.ids and a.texts == b.texts and np.array_equal(a.emb, b.emb)
    assert a.dup_pairs == b.dup_pairs and len(a.dup_pairs) == 10
    lib = gen.make_library(np.random.default_rng(1), "t", 100, 8)
    s1 = list(itertools.islice(gen.iter_queries(np.random.default_rng(2), lib), 50))
    lazy = gen.LazyStream(gen.iter_queries(np.random.default_rng(2), lib))
    s2 = [lazy[i] for i in range(50)]
    assert [q.body for q in s1] == [q.body for q in s2]
    # each block's 20 fresh queries follow the mix exactly; repeats are ~20 %
    fresh = list({id(q): q for q in s1}.values())
    kinds = [q.kind for q in fresh[:20]]
    assert {k: kinds.count(k) for k in set(kinds)} == {
        name: round(share * 20) for name, share, _ in gen.SEARCH_MIX
    }
    assert 0.1 < 1 - len(fresh) / len(s1) < 0.3
