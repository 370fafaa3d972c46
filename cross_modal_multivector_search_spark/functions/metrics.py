"""Set-to-set scoring kernels (NumPy) + the metric registry.

NumPy re-derivations of the reference's Eigen kernels. The batched
kernels (one GEMM per batch of data sets, then the reductions over one
``(m, sets, c)`` block per distinct set cardinality) are the engine's
scorers: ``SET_METRICS_BATCH`` is the one registry, and
``set_search.topk_of`` the one caller, for the exact set top-k, the
rerank and the fused search. The scalar one-pair kernels
``smooth_chamfer`` / ``summed_max_similarity`` are kept as test oracles. The SQL-native (oracle-checkable) formulations of the
same math live in ``operators/set_search.py``.

Parity targets in the reference:
  * smooth-Chamfer:  `/root/reference/src/multivector_reranker.cpp:330-375`
    (batch variant `:377-430`), constants temperature=16, txt_scale=1,
    denominator=2 at `/root/reference/include/multivector_reranker.h:118-120`.
    Orientation: first matrix = QUERY set (rows), second = DATA set (cols);
    BOTH terms are normalized by the *query* cardinality — see the
    `multi_vector_cardinality` uses at `:353-355` and `:370-371`.
  * summed-max-similarity (ColBERT MaxSim):
    `/root/reference/src/multivector_reranker.cpp:432-438`.
  * metric registry dispatch: `/root/reference/src/multivector_reranker.cpp:440-503`.
"""

from __future__ import annotations

from typing import Callable

import numpy as np

SMOOTH_CHAMFER_TEMPERATURE = 16.0
SMOOTH_CHAMFER_TXT_SCALE = 1.0
SMOOTH_CHAMFER_DENOMINATOR = 2.0


def smooth_chamfer(query: np.ndarray, data: np.ndarray,
                   temperature: float = SMOOTH_CHAMFER_TEMPERATURE,
                   txt_scale: float = SMOOTH_CHAMFER_TXT_SCALE,
                   denominator: float = SMOOTH_CHAMFER_DENOMINATOR) -> float:
    """Bidirectional log-sum-exp Chamfer score (higher = more similar).

    query: (m, d) query-set rows; data: (n, d) data-set rows. Rows are
    assumed pre-normalized (cosine-as-IP), matching the reference pipeline.
    Max-subtracted LSE reproduces the reference's numerics.
    """
    sim = query @ data.T                       # (m, n)
    m = query.shape[0]

    t1 = temperature * txt_scale * sim
    row_max = t1.max(axis=1)
    row_lse = np.log(np.exp(t1 - row_max[:, None]).sum(axis=1)) + row_max
    term1 = row_lse.sum() / (m * temperature * txt_scale)

    t2 = temperature * sim
    col_max = t2.max(axis=0)
    col_lse = np.log(np.exp(t2 - col_max[None, :]).sum(axis=0)) + col_max
    term2 = col_lse.sum() / (m * temperature)

    return float((term1 + term2) / denominator)


def _blocks_by_cardinality(sims: np.ndarray, cardinalities: np.ndarray):
    """Yield ``(positions, blocks)`` per distinct cardinality c: the
    positions of the batch's sets with c members and their similarity
    columns as one ``(m, len(positions), c)`` array. Each set's members
    are ``c`` consecutive columns of ``sims``."""
    cards = np.asarray(cardinalities, dtype=np.int64)
    offsets = np.concatenate(([0], np.cumsum(cards)[:-1]))
    for c in np.unique(cards):
        pos = np.flatnonzero(cards == c)
        yield pos, sims[:, offsets[pos][:, None] + np.arange(c)]


def smooth_chamfer_batch(query: np.ndarray, data_concat: np.ndarray,
                         cardinalities: np.ndarray,
                         temperature: float = SMOOTH_CHAMFER_TEMPERATURE,
                         txt_scale: float = SMOOTH_CHAMFER_TXT_SCALE,
                         denominator: float = SMOOTH_CHAMFER_DENOMINATOR) -> np.ndarray:
    """One GEMM for a whole batch of data sets, then block-wise LSE.

    ``data_concat`` stacks the member vectors of many data sets; the i-th
    set occupies ``cardinalities[i]`` consecutive rows. Mirrors
    `ComputeSmoothChamferDistanceBatch` — one big ``query @ batch.T``
    (amortized GEMM). The two log-sum-exp reductions then run once per
    distinct cardinality over an ``(m, sets, c)`` block instead of once
    per set; for query and data cardinalities below 8 every reduction
    adds in the same order as one set at a time, so scores are
    bit-equal to ``smooth_chamfer`` block by block.
    """
    sims = query @ data_concat.T               # (m, total_rows)
    m = query.shape[0]
    out = np.empty(len(cardinalities), dtype=np.float64)
    ts = temperature * txt_scale
    for pos, blk in _blocks_by_cardinality(sims, cardinalities):
        t1 = ts * blk
        rmax = t1.max(axis=2)
        row = np.log(np.exp(t1 - rmax[:, :, None]).sum(axis=2)) + rmax
        term1 = row.sum(axis=0) / (m * ts)
        t2 = temperature * blk
        cmax = t2.max(axis=0)
        col = np.log(np.exp(t2 - cmax[None]).sum(axis=0)) + cmax
        term2 = col.sum(axis=1) / (m * temperature)
        out[pos] = (term1 + term2) / denominator
    return out


def summed_max_similarity(query: np.ndarray, data: np.ndarray) -> float:
    """MaxSim: sum over query members of the best data-member similarity."""
    return float((query @ data.T).max(axis=1).sum())


def summed_max_similarity_batch(query: np.ndarray, data_concat: np.ndarray,
                                cardinalities: np.ndarray) -> np.ndarray:
    """MaxSim for a batch of data sets: one GEMM, one max/sum per
    distinct cardinality (see ``smooth_chamfer_batch``)."""
    sims = query @ data_concat.T
    out = np.empty(len(cardinalities), dtype=np.float64)
    for pos, blk in _blocks_by_cardinality(sims, cardinalities):
        out[pos] = blk.max(axis=2).sum(axis=0)
    return out


# The one metric registry, mirroring the reference's SetDistanceMetric
# dispatch (see the module docstring). All metrics are similarities
# (higher = better) on pre-normalized rows.
SET_METRICS_BATCH: dict[str, Callable[..., np.ndarray]] = {
    "smooth_chamfer": smooth_chamfer_batch,
    "summed_max_similarity": summed_max_similarity_batch,
}


def normalize_rows(mat: np.ndarray) -> np.ndarray:
    """Row-wise L2 normalization; zero rows pass through unscaled."""
    norms = np.linalg.norm(mat, axis=1, keepdims=True)
    norms[norms == 0.0] = 1.0
    return mat / norms
