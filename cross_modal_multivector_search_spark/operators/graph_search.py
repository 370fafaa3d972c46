"""Online multi-vector ANN search over a broadcast RoarGraph.

Reference: `SearchMultivectorOnRoarGraph`
(`/root/reference/src/index_bipartite.cpp:2424-2544`) — m member beam
searches sharing a total beam-size budget with adaptive allocation —
driven per query set by the flagship driver
(`/root/reference/tests/test_search_multivector_rerank.cpp:276-300`).

Spark shape (SURVEY §3.1 restatement): the index (adjacency + vectors) is
a broadcast variable; queries are a DataFrame repartitioned across
executors; one Arrow batch of query sets at a time runs the NumPy beam
search. Traversal stays node-local inside the UDF; Spark parallelizes
across query sets (the reference's OpenMP-over-queries boundary).

``search_and_rerank`` is the two-phase query in ONE Python stage: each
task beam-searches its query sets, maps the candidates to data sets and
scores exactly those sets against the query set with
``set_search.topk_of``, emitting the final top-k. ``multivector_search``
emits the raw per-member candidates for ``rerank.rerank``, the
two-stage form of the same query; both run the same ``_search_batch``.
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (DoubleType, IntegerType, LongType,
                               StructField, StructType)

from . import _roar_core as core
from .graph_build import RoarGraphIndex


@dataclass
class SearchParams:
    """Search knobs; defaults mirror the experiment scripts
    (`/root/reference/expr_configs/dive_train.yaml`, min_beam_width=5)."""
    min_pq: int = 5
    max_pq: int = 200
    budget: int = 200          # max_pq_size_budget (total beam size)
    adaptive: bool = True      # enable_adaptive_expansion
    shared_visited: bool = False  # shared visited/checked-list variant


_CAND_SCHEMA = StructType([
    StructField("query_set_id", LongType()),
    StructField("member_pos", IntegerType()),
    StructField("base_vec_id", LongType()),
    StructField("dist", DoubleType()),
])


def _balanced_grouped(query_vecs: DataFrame, set_id: str) -> DataFrame:
    """Attach ``__slotkey`` — a probed collision-free partition key over
    ``pmod(set_id, p)`` — and hash-repartition on it, so that up to p
    query sets land one-per-partition (round-robin by set id) instead
    of the ~1/e-empty, worst-bin-3x layout that hashing a SMALL batch
    of set ids produces (VERDICT r15 #3: the measured hnsw_b400 tax).
    A following ``groupBy(set_id, __slotkey)`` REUSES this partitioning
    (the partition expression is one of the grouping keys), keeping the
    search stage at cluster parallelism behind a single exchange with
    no range-sampling job — range partitioning was A/B'd and its
    per-invocation sampling pass cost more than the balance won.
    ``__slotkey`` is a pure function of set_id, so the extra grouping
    key changes no group memberships."""
    from .partitioning import _collision_free_keys

    spark = query_vecs.sparkSession
    p = spark.sparkContext.defaultParallelism
    keys = _collision_free_keys(spark, p)
    arr = F.array(*[F.lit(int(k)) for k in keys])
    slot = F.coalesce(F.pmod(F.col(set_id).cast("long"), F.lit(p)),
                      F.lit(0))
    return query_vecs \
        .withColumn("__slotkey",
                    F.element_at(arr, (slot + 1).cast("int"))) \
        .repartition(p, F.col("__slotkey"))


def _grouped_query_sets(query_vecs: DataFrame, set_id: str, vec_id: str,
                        vec_col: str,
                        budget_col: str | None = None) -> DataFrame:
    """(query_set_id, mats[, _budget]): one row per query set, members in
    vec_id order, partitioned by ``_balanced_grouped``."""
    aggs = [F.sort_array(F.collect_list(F.struct(
        F.col(vec_id).alias("vid"), F.col(vec_col).alias("v")
    ))).alias("members")]
    if budget_col is not None:
        aggs.append(F.first(budget_col).alias("_budget"))
    # The grouped query sets are BYTE-tiny (m x dim doubles per row) but
    # each row is a full beam search — AQE's byte-based coalescing would
    # run the whole batch in one task (r15 stage metrics: 420-560 ms
    # single-task at sf0.1 on 32 cores). Partitioning BY THE GROUP KEY
    # before the groupBy pins the search stage at cluster parallelism
    # with ZERO extra exchanges: the aggregation reuses the explicit
    # partitioning, and AQE never coalesces a user-specified partition
    # count.
    grouped = _balanced_grouped(query_vecs, set_id) \
        .groupBy(F.col(set_id).alias("query_set_id"),
                 F.col("__slotkey")) \
        .agg(*aggs)
    cols = ["query_set_id", F.col("members.v").alias("mats")]
    if budget_col is not None:
        cols.append("_budget")
    return grouped.select(*cols)


def _search_batch(idx: RoarGraphIndex, pdf: pd.DataFrame,
                  params: SearchParams) -> tuple:
    """The beam search of one Arrow batch of grouped query sets:
    (query set ids, query matrices, per set the per-member
    [(index positions, dists), ...])."""
    qsids = pdf["query_set_id"].to_numpy(dtype=np.int64)
    sets = [np.stack([np.asarray(r, dtype=np.float64) for r in mats])
            for mats in pdf["mats"]]
    p = params
    if p.shared_visited:
        # the shared-visited variant keeps the per-set kernel
        results = [core.multivector_search_shared_visited(
            idx.adj, idx.vecs, q, idx.entry_point, p.min_pq, p.max_pq,
            p.budget) for q in sets]
    else:
        # the whole batch searches in one wave-vectorized pass
        if "_budget" in pdf.columns:
            b = pdf["_budget"].to_numpy(dtype=np.int64)
            max_pq, budget = b, b
        else:
            max_pq, budget = p.max_pq, p.budget
        results = core.batch_multivector_search(
            idx.adj, idx.vecs, sets, idx.entry_point, p.min_pq, max_pq,
            budget, p.adaptive)
    return qsids, sets, results


def multivector_search(index: RoarGraphIndex, query_vecs: DataFrame,
                       params: SearchParams = SearchParams(),
                       set_id: str = "set_id", vec_id: str = "vec_id",
                       vec_col: str = "vec",
                       budget_col: str | None = None) -> DataFrame:
    """query_vecs(set_id, vec_id, vec) -> per-member candidates
    (query_set_id, member_pos, base_vec_id, dist).

    dist is the negated inner product (reference convention). The number
    of candidates per member equals its final beam size — budget
    allocation decides how deep each member searched.

    ``budget_col`` names an optional per-set column overriding BOTH
    max_pq and budget for that set (the reference sweep's budget knob):
    a whole budget sweep then runs as ONE pass instead of one search
    job per budget.
    """
    from ..util import cached_broadcast

    # the index handle is broadcast ONCE per session (cached_broadcast —
    # repeated searches reuse the broadcast id, so neither the driver
    # re-pickles it per call nor reused workers re-unpickle it per id);
    # the per-call search knobs ride in the tiny function closure
    bc = cached_broadcast(query_vecs.sparkSession, index)

    def search_batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        idx = bc.value
        for pdf in it:
            qsids, _, results = _search_batch(idx, pdf, params)
            frames = [pd.DataFrame({
                "query_set_id": np.full(len(cids), qsid, dtype=np.int64),
                "member_pos": np.full(len(cids), pos, dtype=np.int32),
                "base_vec_id": idx.ids[cids],
                "dist": cdists,
            }) for qsid, members in zip(qsids, results)
                for pos, (cids, cdists) in enumerate(members)]
            if frames:
                yield pd.concat(frames)

    return _grouped_query_sets(query_vecs, set_id, vec_id, vec_col,
                               budget_col) \
        .mapInPandas(search_batches, schema=_CAND_SCHEMA)


_TOPK_SCHEMA = StructType([
    StructField("query_set_id", LongType()),
    StructField("rank", IntegerType()),
    StructField("data_set_id", LongType()),
    StructField("score", DoubleType()),
])


def search_and_rerank(index: RoarGraphIndex, query_vecs: DataFrame,
                      data_vecs: DataFrame, k: int,
                      params: SearchParams = SearchParams(),
                      metric: str = "smooth_chamfer",
                      m: int | None = None,
                      mapping: DataFrame | None = None) -> DataFrame:
    """The full flagship pipeline, ANN candidates -> set-level rerank, as
    ONE Python stage: (query_set_id, rank, data_set_id, score).

    Per Arrow batch of grouped query sets: the beam search
    (``_search_batch``), candidate vids -> data set ids
    (``rerank.vids_to_sets``: vid div m, or the cardinality ``mapping``),
    deduplicated per query set, then ``set_search.topk_of`` scores the
    query set's own matrix against exactly those sets, gathered by
    offset from one per-call broadcast of ``data_vecs``
    (``set_search.fetch_stacked_sets``). Each query set is answered
    whole inside its task, so no candidate shuffle, proposal grouping or
    top-k merge exchange follows. The result equals
    ``multivector_search`` + ``rerank.rerank``: proposed sets missing
    from ``data_vecs`` drop out, and scores come from ``data_vecs``.
    """
    from ..functions.metrics import SET_METRICS_BATCH
    from ..util import cached_broadcast
    from .rerank import collect_ranges, vids_to_sets
    from .set_search import fetch_stacked_sets, topk_of

    if metric not in SET_METRICS_BATCH:
        raise ValueError(f"unknown metric {metric!r}")
    if m is None and mapping is None:
        raise ValueError("need fixed m or a cardinality mapping")
    spark = query_vecs.sparkSession
    bc_idx = cached_broadcast(spark, index)
    ranges = None if mapping is None else collect_ranges(mapping)
    bc_data = spark.sparkContext.broadcast(
        (fetch_stacked_sets(data_vecs), ranges))

    def search_score(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        idx = bc_idx.value
        data, rng = bc_data.value
        for pdf in it:
            qsids, sets, results = _search_batch(idx, pdf, params)
            frames = []
            for qsid, qmat, members in zip(qsids, sets, results):
                sids = vids_to_sets(
                    idx.ids[np.concatenate([c for c, _ in members])],
                    m, rng)
                pos = np.searchsorted(data.ids, sids)
                hit = pos < len(data.ids)
                hit[hit] = data.ids[pos[hit]] == sids[hit]
                if not hit.any():
                    continue
                ids, scores = topk_of(metric, qmat, data, pos[hit], k)
                frames.append(pd.DataFrame({
                    "query_set_id": np.full(len(ids), qsid, dtype=np.int64),
                    "rank": np.arange(1, len(ids) + 1, dtype=np.int32),
                    "data_set_id": ids,
                    "score": scores,
                }))
            if frames:
                yield pd.concat(frames)

    return _grouped_query_sets(query_vecs, "set_id", "vec_id", "vec") \
        .mapInPandas(search_score, schema=_TOPK_SCHEMA)
