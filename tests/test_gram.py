"""The tiled self-gram consumers of operators/gram.py against a dense
m×m reference, and their memory bound, on one oversized bucket."""

from __future__ import annotations

import tracemalloc

import numpy as np
import pytest

from dmi_ingestor_spark.operators import gram
from dmi_ingestor_spark.operators.gram import ROW_TILE

M = 4 * ROW_TILE + 37  # several full tiles plus a ragged last one
TAU = 0.25
EPS2 = 1_500_000


@pytest.fixture(scope="module")
def bucket():
    """Integer-valued 64-d vectors, like quantize()'s round(x * 1000).
    Every 300th row is a noisy copy of a row 1000 ids earlier, so
    near-duplicate pairs span tiles; row 5 is all zeros (zero norm)."""
    rng = np.random.default_rng(3)
    v = rng.integers(-400, 401, size=(M, 64)).astype(np.float64)
    for j in range(1000, M, 300):
        v[j] = v[j - 1000] + rng.integers(-60, 61, size=64)
    v[5] = 0.0
    return v


@pytest.fixture(scope="module")
def dense(bucket):
    v = bucket
    dots = v @ v.T
    nrm = np.sqrt(np.einsum("ij,ij->i", v, v))
    den = nrm[:, None] * nrm[None, :]
    with np.errstate(divide="ignore", invalid="ignore"):
        cos = np.where(den > 0, dots / den, 0.0)
    nsq = np.einsum("ij,ij->i", v, v)
    d2 = nsq[:, None] + nsq[None, :] - 2.0 * dots
    return cos, d2


def test_pairs_at_least_equals_dense(bucket, dense):
    cos, _ = dense
    iu, ju = np.triu_indices(M, k=1)
    keep = cos[iu, ju] >= TAU
    i, j, sim = gram.pairs_at_least(bucket, TAU)
    assert keep.sum() >= 5  # the planted cross-tile pairs
    assert np.array_equal(i, iu[keep])
    assert np.array_equal(j, ju[keep])
    assert np.array_equal(sim, cos[iu[keep], ju[keep]])


def test_any_smaller_at_least_equals_dense(bucket, dense):
    cos, _ = dense
    want = np.tril(cos >= TAU, -1).any(axis=1)
    got = gram.any_smaller_at_least(bucket, TAU)
    assert want.sum() >= 5
    assert np.array_equal(got, want)


def test_count_within_equals_dense(bucket, dense):
    _, d2 = dense
    close = d2 <= EPS2
    np.fill_diagonal(close, False)
    want = close.sum(axis=1)
    assert want.sum() >= 5
    assert np.array_equal(gram.count_within(bucket, EPS2), want)


@pytest.mark.parametrize(
    "consumer",
    [
        lambda v: gram.pairs_at_least(v, TAU),
        lambda v: gram.any_smaller_at_least(v, TAU),
        lambda v: gram.count_within(v, EPS2),
    ],
    ids=["pairs_at_least", "any_smaller_at_least", "count_within"],
)
def test_tiled_peak_stays_below_one_dense_gram(bucket, consumer):
    """numpy reports its buffers to tracemalloc, so the peak covers
    every gram tile; it must stay under one m×m float64 gram and must
    at least see one ROW_TILE×m tile (the measurement is live)."""
    tracemalloc.start()
    try:
        tracemalloc.reset_peak()
        consumer(bucket)
        _, peak = tracemalloc.get_traced_memory()
    finally:
        tracemalloc.stop()
    assert ROW_TILE * M * 8 <= peak < M * M * 8


def test_topk_matches_per_row_lexsort():
    rng = np.random.default_rng(5)
    score = rng.integers(0, 6, size=(7, 50)).astype(np.float64)  # many ties
    ids = rng.permutation(50) + 100
    mask = rng.random((7, 50)) < 0.7
    mask[3] = False  # a row with no candidates
    for desc in (True, False):
        r, c = gram.topk(score, ids, 4, desc=desc, mask=mask)
        want_r, want_c = [], []
        for q in range(7):
            cand = np.flatnonzero(mask[q])
            key = -score[q, cand] if desc else score[q, cand]
            sel = cand[np.lexsort((ids[cand], key))][:4]
            want_r += [q] * len(sel)
            want_c += list(sel)
        assert r.tolist() == want_r and c.tolist() == want_c
