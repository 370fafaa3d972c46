"""Two-phase rerank: candidate vector ids -> set-level top-k.

Reference: `MultiVectorReranker::Rerank`
(`/root/reference/src/multivector_reranker.cpp:38-98`):
  1. candidate member-vector ids -> vector-SET ids (fixed m: vsid = vid/m,
     `tests/test_search_multivector_rerank.cpp:241-244`; variable
     cardinality via the mapping table — see operators/mapping.py);
  2. sort+unique (here: ``collect_set`` of the proposing query sets per
     data set);
  3. gather each candidate set's member vectors; 4. set-to-set score vs
     the query set; 5. top-k by descending score.

Steps 3-5 are ``set_search``'s exact scan restricted to the proposed
pairs (``set_search.proposed_topk``): one scorer (``set_search.topk_of``)
serves the exact set top-k, this rerank and the fused
``graph_search.search_and_rerank``, as the reference's `Rerank` and
`RerankAllBySequentialScan` share one kernel.

``rerank`` takes candidates from any source (RoarGraph, HNSW, NSG,
sharded search) as a DataFrame, so it keeps the two-stage shape: a
shuffle groups the candidates by data set, and a second Python stage
scores them. The RoarGraph flagship path skips both through the fused
stage; ``vids_to_sets`` is its in-task twin of ``candidates_to_sets``.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .set_search import proposed_topk


def candidates_to_sets(candidates: DataFrame, m: int | None = None,
                       mapping: DataFrame | None = None,
                       query_set_col: str = "query_set_id",
                       base_vec_col: str = "base_vec_id") -> DataFrame:
    """(query_set_id, data_set_id) candidate pairs, with repeats.

    Fixed cardinality: set = vid div m. Variable cardinality: broadcast
    join against mapping(first_vid, cardinality, set_id) with a range
    predicate (first_vid <= vid < first_vid+cardinality). Repeats are
    left in: the consumer's set aggregation removes them without a
    shuffle of its own.
    """
    if mapping is not None:
        j = candidates.join(
            F.broadcast(mapping),
            (F.col(base_vec_col) >= mapping.first_vid)
            & (F.col(base_vec_col) < mapping.first_vid + mapping.cardinality),
        )
        return j.select(query_set_col, F.col("set_id").alias("data_set_id"))
    if m is not None:
        return candidates.select(
            query_set_col,
            (F.col(base_vec_col) / m).cast("long").alias("data_set_id"))
    raise ValueError("need fixed m or a cardinality mapping")


def collect_ranges(mapping: DataFrame) -> tuple:
    """mapping(first_vid, cardinality, set_id) fetched for
    ``vids_to_sets``: (first vids ascending, their cardinalities, set
    ids) of the non-empty ranges."""
    pdf = mapping.select("first_vid", "cardinality", "set_id").toPandas()
    first, card, sid = (pdf[c].to_numpy(dtype=np.int64)
                        for c in ("first_vid", "cardinality", "set_id"))
    order = np.argsort(first, kind="stable")
    order = order[card[order] > 0]
    return first[order], card[order], sid[order]


def vids_to_sets(vids: np.ndarray, m: int | None,
                 ranges: tuple | None) -> np.ndarray:
    """NumPy twin of ``candidates_to_sets`` for one query set's
    candidate vids: the distinct data set ids, ascending. With
    ``ranges`` (``collect_ranges``) a vid maps to the range that holds
    it and vids outside every range drop, as the range join drops
    them; otherwise set = vid div m."""
    if ranges is None:
        return np.unique(vids // m)
    first, card, sid = ranges
    pos = np.searchsorted(first, vids, side="right") - 1
    ok = pos >= 0
    ok[ok] = vids[ok] < first[pos[ok]] + card[pos[ok]]
    return np.unique(sid[pos[ok]])


def rerank(candidates: DataFrame, query_vecs: DataFrame,
           data_vecs: DataFrame, k: int,
           metric: str = "smooth_chamfer", m: int | None = None,
           mapping: DataFrame | None = None,
           q_sets: list | None = None) -> DataFrame:
    """candidates(query_set_id, base_vec_id) -> top-k reranked sets.

    One shuffle groups the candidates by data set with their proposing
    query sets; ``set_search.proposed_topk`` then scores each data set
    against only those query sets and merges the top-k.

    ``q_sets``: optional pre-fetched ``set_search.fetch_grouped_sets``
    list of the SAME query side — build-once / search-many callers (the
    reference loads its query fbin once and benchmarks search alone)
    skip the 2-3 Spark jobs of the per-call grouped Arrow fetch, the
    same contract ``set_topk_gemm`` already offers.
    """
    proposals = (candidates_to_sets(candidates, m=m, mapping=mapping)
                 .groupBy(F.col("data_set_id").alias("set_id"))
                 .agg(F.collect_set("query_set_id").alias("qsids")))
    return proposed_topk(query_vecs if q_sets is None else q_sets,
                         data_vecs, proposals, k, metric)
