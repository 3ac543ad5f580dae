"""Correctness gate: numpy restatements of what each answer must be.

Every check returns ``None`` when the answer is right and a one-line
reason when it is wrong; the workloads collect reasons and a run with any
reason fails (non-zero exit). Scores are cosines in double precision, so a
tolerance of 1e-6 separates float-order noise from a wrong answer.
"""

from __future__ import annotations

import numpy as np

TOL = 1e-6


def unit(mat: np.ndarray) -> np.ndarray:
    """Row-wise L2 normalization in double; zero rows stay zero."""
    m = np.asarray(mat, dtype=np.float64)
    n = np.linalg.norm(m, axis=-1, keepdims=True)
    return np.divide(m, n, out=np.zeros_like(m), where=n != 0)


class ExactIndex:
    """The live rows of one library, for exact top-k and cosine lookups."""

    def __init__(self, ids, emb: np.ndarray, meta) -> None:
        self.ids = np.asarray(ids, dtype=object)
        self.unit = unit(emb)
        self.meta = np.asarray(meta, dtype=object)
        self.pos = {cid: i for i, cid in enumerate(self.ids)}

    def topk(self, q, k: int, meta: str | None = None) -> tuple[list[str], np.ndarray]:
        """Exact top-k by (cosine desc, chunk_id asc) over rows passing the
        ``meta_type`` filter."""
        rows = np.arange(len(self.ids)) if meta is None else np.flatnonzero(self.meta == meta)
        scores = self.unit[rows] @ unit(q)
        if 0 < k < len(rows):  # only rows that can reach the top k, ties included
            kth = np.partition(scores, len(rows) - k)[len(rows) - k]
            cand = np.flatnonzero(scores >= kth - TOL)
        else:
            cand = np.arange(len(rows))
        order = sorted(cand, key=lambda i: (-scores[i], self.ids[rows[i]]))[:k]
        return [self.ids[rows[i]] for i in order], scores[order]

    def cosine(self, cid: str, q) -> float | None:
        i = self.pos.get(cid)
        return None if i is None else float(self.unit[i] @ unit(q))


def check_exact(hits: list[dict], idx: ExactIndex, q, k: int, meta: str | None = None) -> str | None:
    """Brute hits equal the exact top-k: same length, same scores, same ids
    in order (an id swap is allowed only inside a run of tied scores)."""
    exp_ids, exp_scores = idx.topk(q, k, meta)
    got_ids = [h["chunk_id"] for h in hits]
    if len(got_ids) != len(exp_ids):
        return f"brute: {len(got_ids)} hits, expected {len(exp_ids)}"
    for i, h in enumerate(hits):
        if abs(h["score"] - exp_scores[i]) > TOL:
            return f"brute: rank {i} score {h['score']:.9f} != exact {exp_scores[i]:.9f}"
        if got_ids[i] != exp_ids[i]:
            tied = any(
                abs(exp_scores[j] - exp_scores[i]) <= TOL
                for j in (i - 1, i + 1)
                if 0 <= j < len(exp_scores)
            )
            if not tied or set(got_ids) != set(exp_ids):
                return f"brute: rank {i} is {got_ids[i]}, exact top-k has {exp_ids[i]}"
    return check_scores(hits, idx, q, meta, k)


def check_scores(hits: list[dict], idx: ExactIndex, q, meta: str | None, k: int) -> str | None:
    """Approximate hits: at most k distinct live ids passing the filter,
    each carrying its true cosine, in non-increasing score order."""
    if len(hits) > k or len({h["chunk_id"] for h in hits}) != len(hits):
        return f"hits: {len(hits)} hits for k={k} or duplicate ids"
    prev = np.inf
    for h in hits:
        true = idx.cosine(h["chunk_id"], q)
        if true is None:
            return f"hits: {h['chunk_id']} is not a live embedded chunk"
        if meta is not None and h["meta_type"] != meta:
            return f"hits: {h['chunk_id']} fails filter meta_type={meta}"
        if abs(h["score"] - true) > TOL:
            return f"hits: {h['chunk_id']} score {h['score']:.9f} != cosine {true:.9f}"
        if h["score"] > prev + TOL:
            return "hits: scores not in descending order"
        prev = h["score"]
    return None


def recall(got_ids, exact_ids) -> float:
    """|got ∩ exact| / |exact| (1.0 when the exact answer is empty)."""
    exact = set(exact_ids)
    return 1.0 if not exact else len(exact & set(got_ids)) / len(exact)


def pair_recall(pairs, label: dict) -> float:
    """Share of planted (original, copy) pairs whose two rows carry the
    same non-null cluster label."""
    if not pairs:
        return 1.0
    same = sum(
        1 for a, b in pairs if label.get(a) is not None and label.get(a) == label.get(b)
    )
    return same / len(pairs)
