"""Exact-integer gram operator shared by the embedding kernels.

Every similarity, dedup and clustering kernel that scores vectors in
numpy goes through this module: the cosine gram, the expanded
squared-distance gram, per-query top-k selection, and the self-gram
consumers that walk a bucket in row tiles.

Exactness. Callers pass integer-valued float64 vectors: the quantized
``round(x * 1000)`` components of :func:`functions.vector.quantize` or
the ``floor(x * 1000)`` grid of the DBSCAN kernel, 64 dimensions of
magnitude ≤ ~10^4. Every product and partial sum of a dot product or
squared norm is then an integer far below 2^53, so it is the same exact
double under ANY accumulation order — BLAS blocking, einsum's pairwise
sum, FMA contraction, or the left fold of Spark's ``aggregate`` and
DuckDB's ``list_dot_product``. The cosine is ``dot / (‖a‖·‖b‖)``: two
correctly rounded square roots, one product ``qn * vn``, then one
divide — the same IEEE operation tree as
:func:`functions.vector.cosine` and ``sql_cosine``, so the double is
bit-identical across engines, and a zero-norm side scores 0.0 as their
``CASE`` does. The squared distance ``‖a‖² + ‖b‖² − 2a·b`` is an exact
integer too, so its comparison against an integer ε² equals the
``Σ(a−b)²`` chain of the oracle. Changing that operation order, or
feeding non-integer vectors, breaks hash parity with the oracles.

Memory. Query-side grams are (bounded query set) × (one Arrow batch).
A self-gram over a bucket or label block of m vectors is never held
whole: the consumers below compute it ROW_TILE rows at a time, so a
group costs O(m·dim) input plus O(ROW_TILE·m) gram, not O(m²).
"""

from __future__ import annotations

import numpy as np

ROW_TILE = 512  # self-gram rows held at once (not raster.TILE, a COG tile edge)


def norms(v: np.ndarray) -> np.ndarray:
    """Row L2 norms: one correctly rounded sqrt of an exact integer each."""
    return np.sqrt(np.einsum("ij,ij->i", v, v))


def cosine(a: np.ndarray, b: np.ndarray, an: np.ndarray, bn: np.ndarray) -> np.ndarray:
    """(na, d) × (nb, d) → (na, nb) cosine, 0.0 where either norm is 0.

    ``an``/``bn`` are :func:`norms` of ``a``/``b``, passed in so a fixed
    side (the query block) is normed once. Divides in place: the block
    costs the gram plus its denominator, nothing more.
    """
    cos = a @ b.T
    den = an[:, None] * bn[None, :]
    with np.errstate(divide="ignore", invalid="ignore"):
        np.divide(cos, den, out=cos)
    cos[~(den > 0)] = 0.0
    return cos


def sq_distance(a: np.ndarray, b: np.ndarray, an2: np.ndarray, bn2: np.ndarray) -> np.ndarray:
    """(na, d) × (nb, d) → (na, nb) squared distance ‖a‖² + ‖b‖² − 2a·b.

    ``an2``/``bn2`` are the squared row norms. Exact integers, so the
    in-place evaluation order does not matter.
    """
    d2 = a @ b.T
    d2 *= -2.0
    d2 += an2[:, None]
    d2 += bn2[None, :]
    return d2


def topk(
    score: np.ndarray,
    ids: np.ndarray,
    k: int,
    *,
    desc: bool = True,
    mask: np.ndarray | None = None,
) -> tuple[np.ndarray, np.ndarray]:
    """Per-row top-``k`` of an (nq, n) score block.

    Each row is ordered by score (DESC for similarities, ASC for
    distances), then ``ids`` ASC; ``mask`` (nq, n) keeps only the True
    candidates, so a row may return fewer than ``k``. Returns
    ``(rows, cols)`` index arrays in row-major order, for the caller to
    gather every column of its one output frame with.

    Used per Arrow batch: a globally top-k row is necessarily in its
    batch's top-k, so the final Spark window over these rows sees a
    superset of the true top-k.
    """
    keys = [np.broadcast_to(ids, score.shape), -score if desc else score]
    if mask is not None:
        keys.append(~mask)  # primary key: candidates first
    sel = np.lexsort(keys, axis=-1)[:, :k]
    rows = np.broadcast_to(np.arange(score.shape[0])[:, None], sel.shape)
    if mask is None:
        return rows.ravel(), sel.ravel()
    keep = np.take_along_axis(mask, sel, axis=1)
    return rows[keep], sel[keep]


def not_self(qids: np.ndarray, ids: np.ndarray) -> np.ndarray:
    """(nq, n) candidate mask for :func:`topk`: every batch row except
    the query itself."""
    return ids[None, :] != qids[:, None]


def pairs_at_least(v: np.ndarray, tau: float) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """All pairs i < j of ``v``'s rows with cosine ≥ ``tau``.

    Returns ``(i, j, sim)`` in (i, j) order; with rows sorted by id,
    i < j is ``a_id < b_id``. Computed in row tiles.
    """
    n = norms(v)
    out_i, out_j, out_s = [], [], []
    for lo in range(0, len(v), ROW_TILE):
        hi = min(lo + ROW_TILE, len(v))
        cos = cosine(v[lo:hi], v[lo:], n[lo:hi], n[lo:])
        r, c = np.nonzero(np.triu(cos >= tau, 1))  # column lo + c > row lo + r
        out_i.append(lo + r)
        out_j.append(lo + c)
        out_s.append(cos[r, c])
    if not out_i:
        return np.zeros(0, np.int64), np.zeros(0, np.int64), np.zeros(0)
    return np.concatenate(out_i), np.concatenate(out_j), np.concatenate(out_s)


def any_smaller_at_least(v: np.ndarray, tau: float) -> np.ndarray:
    """Per row i: whether some row j < i has cosine ≥ ``tau`` with it.

    With rows sorted by id, that is "a smaller-id neighbour is a
    near-duplicate". Computed in row tiles; only columns < hi are read.
    """
    n = norms(v)
    out = np.zeros(len(v), dtype=bool)
    for lo in range(0, len(v), ROW_TILE):
        hi = min(lo + ROW_TILE, len(v))
        cos = cosine(v[lo:hi], v[:hi], n[lo:hi], n[:hi])
        out[lo:hi] = np.tril(cos >= tau, lo - 1).any(axis=1)  # column < lo + r
    return out


def count_within(v: np.ndarray, eps2: float) -> np.ndarray:
    """Per row: how many OTHER rows lie at squared distance ≤ ``eps2``.

    Computed in row tiles of the expanded squared-distance gram.
    """
    nsq = np.einsum("ij,ij->i", v, v)
    out = np.zeros(len(v), dtype=np.int64)
    for lo in range(0, len(v), ROW_TILE):
        hi = min(lo + ROW_TILE, len(v))
        close = sq_distance(v[lo:hi], v, nsq[lo:hi], nsq) <= eps2
        close[np.arange(hi - lo), np.arange(lo, hi)] = False  # self
        out[lo:hi] = close.sum(axis=1)
    return out
