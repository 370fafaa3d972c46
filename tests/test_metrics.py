"""NumPy kernel parity: formulas vs naive re-derivations.

The smooth-Chamfer reference semantics under test:
`/root/reference/src/multivector_reranker.cpp:330-430` (T=16, s=1, den=2,
both terms divided by the QUERY cardinality).
"""

import math

import numpy as np
import pytest

from cross_modal_multivector_search_spark.functions import metrics as M


def naive_smooth_chamfer(q, d, T=16.0, s=1.0, den=2.0):
    m = q.shape[0]
    sim = q @ d.T
    term1 = sum(
        math.log(sum(math.exp(T * s * sim[i, j]) for j in range(d.shape[0])))
        for i in range(m)) / (m * T * s)
    term2 = sum(
        math.log(sum(math.exp(T * sim[i, j]) for i in range(m)))
        for j in range(d.shape[0])) / (m * T)
    return (term1 + term2) / den


def loop_smooth_chamfer_batch(q, data, cards, T=16.0, s=1.0, den=2.0):
    """The batch kernel as it was before vectorizing: one GEMM, then one
    pair of log-sum-exp reductions per data set."""
    sims = q @ data.T
    m = q.shape[0]
    out = np.empty(len(cards), dtype=np.float64)
    offsets = np.concatenate(([0], np.cumsum(cards)))
    ts = T * s
    for i in range(len(cards)):
        blk = sims[:, offsets[i]:offsets[i + 1]]
        t1 = ts * blk
        rmax = t1.max(axis=1)
        term1 = (np.log(np.exp(t1 - rmax[:, None]).sum(axis=1))
                 + rmax).sum() / (m * ts)
        t2 = T * blk
        cmax = t2.max(axis=0)
        term2 = (np.log(np.exp(t2 - cmax[None, :]).sum(axis=0))
                 + cmax).sum() / (m * T)
        out[i] = (term1 + term2) / den
    return out


def loop_summed_max_similarity_batch(q, data, cards):
    sims = q @ data.T
    offsets = np.concatenate(([0], np.cumsum(cards)))
    return np.array([sims[:, offsets[i]:offsets[i + 1]].max(axis=1).sum()
                     for i in range(len(cards))], dtype=np.float64)


BATCH_AND_SCALAR = {
    "smooth_chamfer": (M.smooth_chamfer_batch, M.smooth_chamfer,
                       loop_smooth_chamfer_batch),
    "summed_max_similarity": (M.summed_max_similarity_batch,
                              M.summed_max_similarity,
                              loop_summed_max_similarity_batch),
}


@pytest.fixture
def rng():
    return np.random.default_rng(42)


def test_smooth_chamfer_matches_naive(rng):
    q = M.normalize_rows(rng.normal(size=(5, 16)))
    d = M.normalize_rows(rng.normal(size=(3, 16)))
    assert M.smooth_chamfer(q, d) == pytest.approx(
        naive_smooth_chamfer(q, d), abs=1e-12)


def test_smooth_chamfer_batch_matches_single(rng):
    q = M.normalize_rows(rng.normal(size=(5, 16)))
    cards = np.array([3, 5, 1, 7])
    data = M.normalize_rows(rng.normal(size=(int(cards.sum()), 16)))
    batch = M.smooth_chamfer_batch(q, data, cards)
    off = 0
    for i, c in enumerate(cards):
        single = M.smooth_chamfer(q, data[off:off + c])
        assert batch[i] == pytest.approx(single, abs=1e-12)
        off += c


def test_maxsim_matches_naive(rng):
    q = M.normalize_rows(rng.normal(size=(4, 8)))
    d = M.normalize_rows(rng.normal(size=(6, 8)))
    naive = sum(max(float(q[i] @ d[j]) for j in range(6)) for i in range(4))
    assert M.summed_max_similarity(q, d) == pytest.approx(naive, abs=1e-12)
    batch = M.summed_max_similarity_batch(
        q, d, np.array([2, 4]))
    assert batch[0] == pytest.approx(
        M.summed_max_similarity(q, d[:2]), abs=1e-12)


def test_identical_set_is_top_score(rng):
    """A set scored against itself beats any random other set (sanity)."""
    q = M.normalize_rows(rng.normal(size=(5, 16)))
    other = M.normalize_rows(rng.normal(size=(5, 16)))
    assert M.smooth_chamfer(q, q) > M.smooth_chamfer(q, other)
    assert M.summed_max_similarity(q, q) > M.summed_max_similarity(q, other)


def test_normalize_rows_zero_guard():
    m = np.array([[0.0, 0.0], [3.0, 4.0]])
    out = M.normalize_rows(m)
    assert np.allclose(out[0], [0.0, 0.0])
    assert np.allclose(np.linalg.norm(out[1]), 1.0)


@pytest.mark.parametrize("metric", sorted(BATCH_AND_SCALAR))
def test_batch_interleaved_cardinalities_score_in_place(rng, metric):
    """Sets of different cardinalities interleaved in one batch: every
    set's score lands at its own position."""
    batch, scalar, _ = BATCH_AND_SCALAR[metric]
    q = M.normalize_rows(rng.normal(size=(4, 16)))
    cards = np.array([3, 5, 3, 1, 5, 7])
    data = M.normalize_rows(rng.normal(size=(int(cards.sum()), 16)))
    got = batch(q, data, cards)
    offsets = np.concatenate(([0], np.cumsum(cards)))
    for i in range(len(cards)):
        want = scalar(q, data[offsets[i]:offsets[i + 1]])
        assert abs(got[i] - want) <= 1e-12


@pytest.mark.parametrize("metric", sorted(BATCH_AND_SCALAR))
def test_batch_bit_equal_to_per_set_loop(rng, metric):
    """Query and data cardinalities up to 7: the cardinality-grouped
    reductions add in the per-set loop's order, bit for bit."""
    batch, _, loop = BATCH_AND_SCALAR[metric]
    for _ in range(40):
        q = M.normalize_rows(rng.normal(size=(rng.integers(1, 8), 24)))
        cards = rng.integers(1, 8, size=rng.integers(1, 50))
        data = M.normalize_rows(rng.normal(size=(int(cards.sum()), 24)))
        assert np.array_equal(batch(q, data, cards), loop(q, data, cards))
