"""Seeded workload generators.

Everything the benchmark feeds the program is made here from one integer
seed with numpy, so the same seed always gives the same libraries, query
stream, write sequence and batch corpus. The program only ever sees the
parquet files written by :func:`write_chunks` (read back as DataFrames) and
the API payloads built from these records.
"""

from __future__ import annotations

import hashlib
import itertools
from collections.abc import Iterator
from dataclasses import dataclass, field

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

META_TYPES = ("a", "b", "c")


@dataclass
class Library:
    """One generated library: parallel arrays, ``emb[i]`` is NaN-free and
    ``has_emb[i]`` False for the rows stored with a NULL embedding."""

    tag: str
    ids: list[str]
    texts: list[str]
    emb: np.ndarray  # (n, dim) float32
    has_emb: np.ndarray  # (n,) bool
    meta: np.ndarray  # (n,) str
    centers: np.ndarray = field(repr=False, default=None)


def _zipf_words(rng: np.random.Generator, vocab: int, s: float, n: int) -> np.ndarray:
    p = 1.0 / np.arange(1, vocab + 1) ** s
    return rng.choice(vocab, size=n, p=p / p.sum())


def _text(words: np.ndarray) -> str:
    return " ".join(f"w{w}" for w in words)


def mixture(rng: np.random.Generator, n: int, centers: np.ndarray, sigma: float) -> np.ndarray:
    """``n`` points of a Gaussian mixture around ``centers`` (equal weights)."""
    lab = rng.integers(len(centers), size=n)
    noise = rng.standard_normal((n, centers.shape[1]))
    return (centers[lab] + sigma * noise).astype(np.float32)


def make_library(
    rng: np.random.Generator,
    tag: str,
    n: int,
    dim: int,
    *,
    clusters: int = 16,
    sigma: float = 0.5,
    null_share: float = 0.05,
    meta_shares: tuple[float, ...] = (0.7, 0.2, 0.1),
) -> Library:
    centers = rng.standard_normal((clusters, dim))
    emb = mixture(rng, n, centers, sigma)
    has_emb = rng.random(n) >= null_share
    meta = np.array(META_TYPES)[rng.choice(len(meta_shares), size=n, p=meta_shares)]
    words = _zipf_words(rng, 2000, 1.1, n * 8).reshape(n, 8)
    texts = [f"{tag} chunk {i} " + _text(words[i]) for i in range(n)]
    ids = [f"{tag}-{i:06d}" for i in range(n)]
    return Library(tag, ids, texts, emb, has_emb, meta, centers)


def write_chunks(path: str, ids, texts, emb: np.ndarray, has_emb, meta=None) -> None:
    """One parquet file with ``id, text, embedding (array<float>, NULL where
    ``has_emb`` is False)[, meta_type]`` — the frame ``add_chunks_bulk`` takes."""
    has_emb = np.asarray(has_emb, dtype=bool)
    lengths = np.where(has_emb, emb.shape[1], 0)
    offsets = pa.array(np.concatenate([[0], np.cumsum(lengths)]).astype(np.int32))
    values = pa.array(np.ascontiguousarray(emb[has_emb], dtype=np.float32).reshape(-1))
    lists = pa.ListArray.from_arrays(offsets, values, mask=pa.array(~has_emb))
    cols = {"id": pa.array(ids), "text": pa.array(texts), "embedding": lists}
    if meta is not None:
        cols["meta_type"] = pa.array(list(meta))
    pq.write_table(pa.table(cols), path)


# ---- search workload ------------------------------------------------------

SEARCH_MIX = (
    # (name, share, request body template)
    ("brute_k5", 0.45, {"k": 5, "index": "brute"}),
    ("brute_k5_filtered", 0.15, {"k": 5, "index": "brute", "filters": {"meta_type": "c"}}),
    ("brute_k100", 0.10, {"k": 100, "index": "brute"}),
    ("lsh_k5", 0.20, {"k": 5, "index": "lsh"}),
    ("text_k5", 0.10, {"k": 5, "index": "brute"}),
)


@dataclass
class Query:
    kind: str
    body: dict


def iter_queries(
    rng: np.random.Generator,
    lib: Library,
    *,
    block: int = 20,
    repeats_per_block: int = 5,
    noise: float = 0.1,
) -> Iterator[Query]:
    """Endless search requests in arrival order, built in blocks: each block
    holds ``block`` fresh queries in exactly the SEARCH_MIX proportions plus
    ``repeats_per_block`` repeats of earlier distinct queries (Zipf-picked,
    so the first queries stay the most popular), shuffled by the seed. A
    fresh query takes a random embedded row of its library plus Gaussian
    noise, or a generated phrase for ``query_text``. Exact proportions per
    block keep short windows from drawing very different mixes. Requests
    are made only as they are taken, so the stream costs what a run uses;
    ``rng`` must not be drawn from elsewhere meanwhile."""
    kinds = [k for name, share, _ in SEARCH_MIX for k in [name] * round(share * block)]
    templates = {m[0]: m[2] for m in SEARCH_MIX}
    live = np.flatnonzero(lib.has_emb)
    distinct: list[Query] = []
    while True:
        slots = kinds + [None] * repeats_per_block
        for j in rng.permutation(len(slots)):
            kind = slots[j]
            if kind is None:
                if distinct:
                    yield distinct[min(int(rng.zipf(1.5)) - 1, len(distinct) - 1)]
                continue
            body = dict(templates[kind])
            if kind == "text_k5":
                body["query_text"] = "query " + _text(_zipf_words(rng, 2000, 1.1, 4))
            else:
                row = lib.emb[live[rng.integers(len(live))]].astype(np.float64)
                q = row + noise * rng.standard_normal(len(row))
                body["query_embedding"] = [round(float(x), 6) for x in q]
            qry = Query(kind, body)
            distinct.append(qry)
            yield qry


class LazyStream:
    """Indexable view of an endless request iterator that keeps only the
    requests taken so far; iterating starts from the first request."""

    def __init__(self, it: Iterator[Query]) -> None:
        self._it = it
        self._taken: list[Query] = []

    def __getitem__(self, i: int) -> Query:
        while len(self._taken) <= i:
            self._taken.append(next(self._it))
        return self._taken[i]

    def __iter__(self) -> Iterator[Query]:
        return (self[i] for i in itertools.count())


# ---- crud workload --------------------------------------------------------

CRUD_MIX = (("add", 0.30), ("update", 0.10), ("delete", 0.10), ("search", 0.50))


def crud_ops(rng: np.random.Generator, n: int) -> list[str]:
    """Op kinds drawn i.i.d. with the CRUD_MIX shares: about half of the
    searches land right after a write and pay the index refresh."""
    kinds = [m[0] for m in CRUD_MIX]
    p = np.array([m[1] for m in CRUD_MIX])
    return [kinds[i] for i in rng.choice(len(kinds), size=n, p=p / p.sum())]


# ---- batch workload -------------------------------------------------------


@dataclass
class Corpus:
    ids: list[str]
    texts: list[str]
    emb: np.ndarray
    dup_pairs: list[tuple[int, int]]  # (original, planted copy) row indices


def batch_corpus(
    rng: np.random.Generator,
    n: int,
    dim: int,
    *,
    clusters: int = 32,
    sigma: float = 0.6,
    dup_share: float = 0.05,
    vocab: int = 5000,
    zipf_s: float = 1.1,
    words: tuple[int, int] = (30, 60),
) -> Corpus:
    """Mixture vectors and Zipf-vocabulary texts with planted near-duplicates:
    ``dup_share`` of the rows are copies of another row with a tiny vector
    perturbation (cosine > 0.999) and one appended word."""
    centers = rng.standard_normal((clusters, dim))
    emb = mixture(rng, n, centers, sigma)
    lengths = rng.integers(words[0], words[1] + 1, size=n)
    flat = _zipf_words(rng, vocab, zipf_s, int(lengths.sum()))
    cuts = np.concatenate([[0], np.cumsum(lengths)])
    texts = [_text(flat[cuts[i]:cuts[i + 1]]) for i in range(n)]
    n_dup = int(round(n * dup_share))
    perm = rng.permutation(n)
    originals, copies = perm[:n_dup], perm[n_dup:2 * n_dup]
    for o, c in zip(originals, copies):
        emb[c] = emb[o] + 0.005 * rng.standard_normal(dim).astype(np.float32)
        texts[c] = texts[o] + f" w{int(rng.integers(vocab))}"
    ids = [f"doc-{i:06d}" for i in range(n)]
    return Corpus(ids, texts, emb, [(int(o), int(c)) for o, c in zip(originals, copies)])


def hash_embedding(text: str, dim: int) -> np.ndarray:
    """Independent restatement of the program's deterministic text embedding
    (sha256 seed -> PCG64 normals -> unit vector), used by the gate to know
    what vector a ``query_text`` request must have searched with."""
    seed = int.from_bytes(hashlib.sha256(text.encode("utf-8")).digest()[:8], "big")
    v = np.random.default_rng(seed).standard_normal(dim)
    n = float(np.linalg.norm(v))
    return v / n if n != 0.0 else v
