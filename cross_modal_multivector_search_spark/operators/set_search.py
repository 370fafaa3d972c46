"""Exact set-to-set top-k: the flagship query semantics.

Reference: `RerankAllBySequentialScan`
(`/root/reference/src/multivector_reranker.cpp:100-158`) — score a query
*set* of m vectors against EVERY data set under a set-to-set metric
(smooth-Chamfer `:330-375` or MaxSim `:432-438`), return top-k set ids by
descending score. Also `RerankAllAndGenerateSetGroundTruth` (`:160-181`)
= the same with k = #sets (GT generation).

Physical strategies:

  * ``*_sql`` — the pairwise similarity matrix as a broadcast join of
    member vectors, LSE / max-aggregation as two-level groupBy. Fully
    Catalyst-visible; exactly mirrored by the DuckDB oracle SQL. The
    LSE here skips max-subtraction (|T*sim| <= 16 so exp() is safe in
    double); the NumPy path reproduces the reference's max-subtracted
    numerics bit-for-bit — both agree to ~1e-12.
  * ``set_topk_gemm`` — scale path: query sets broadcast as NumPy, data
    sets streamed via ``applyInPandas``-free mapInPandas over pre-grouped
    set rows; one GEMM per Arrow batch of data sets (the reference's
    batch variant `:377-430`), per-batch partial top-k, global merge.
  * ``proposed_topk`` — the rerank (`MultiVectorReranker::Rerank`
    `:38-98`): the same scan, each query set scoring only the data sets
    it proposed.

``topk_of`` is the one scoring body (batched kernel over members
gathered by offset, then the (score desc, id asc) top-k): both scans
above call it per Arrow batch, and the fused
``graph_search.search_and_rerank`` calls it per query set against a
broadcast ``fetch_stacked_sets`` of the data side.
"""

from __future__ import annotations

from typing import Iterator, NamedTuple

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import DoubleType, LongType, StructField, StructType

from ..functions import metrics as M
from ..functions import vector as V
from .topk import grouped_topk


def _member_pairs(query_vecs: DataFrame, data_vecs: DataFrame,
                  set_id: str = "set_id", vec_id: str = "vec_id",
                  vec_col: str = "vec") -> DataFrame:
    """All (query member, data member) cosine/IP similarities.

    Query side broadcast (it is small); data side streams. Columns:
    (q_set, q_vec, d_set, d_vec, sim).
    """
    q = query_vecs.select(
        F.col(set_id).alias("q_set"), F.col(vec_id).alias("q_vec"),
        V.to_double(F.col(vec_col)).alias("_qv"))
    d = data_vecs.select(
        F.col(set_id).alias("d_set"), F.col(vec_id).alias("d_vec"),
        V.to_double(F.col(vec_col)).alias("_dv"))
    return F.broadcast(q).crossJoin(d).select(
        "q_set", "q_vec", "d_set", "d_vec",
        V.dot(F.col("_qv"), F.col("_dv")).alias("sim"))


def smooth_chamfer_scores_sql(query_vecs: DataFrame, data_vecs: DataFrame,
                              temperature: float = M.SMOOTH_CHAMFER_TEMPERATURE,
                              txt_scale: float = M.SMOOTH_CHAMFER_TXT_SCALE,
                              denominator: float = M.SMOOTH_CHAMFER_DENOMINATOR,
                              **cols) -> DataFrame:
    """(q_set, d_set, score) for every pair of sets — declarative form.

    term1 = sum_i LSE_j(T*s*sim_ij) / (m*T*s); term2 = sum_j LSE_i(T*sim_ij)
    / (m*T); score = (term1+term2)/denominator, m = |query set| (BOTH terms
    divide by the query cardinality — reference `:353-355,370-371`).
    """
    pairs = _member_pairs(query_vecs, data_vecs, **cols)
    ts = temperature * txt_scale
    lse1 = pairs.groupBy("q_set", "d_set", "q_vec").agg(
        F.log(F.sum(F.exp(F.col("sim") * F.lit(ts)))).alias("lse1"))
    t1 = lse1.groupBy("q_set", "d_set").agg(
        F.sum("lse1").alias("sum_lse1"), F.count("*").alias("m"))
    lse2 = pairs.groupBy("q_set", "d_set", "d_vec").agg(
        F.log(F.sum(F.exp(F.col("sim") * F.lit(temperature)))).alias("lse2"))
    t2 = lse2.groupBy("q_set", "d_set").agg(F.sum("lse2").alias("sum_lse2"))
    return t1.join(t2, ["q_set", "d_set"]).select(
        "q_set", "d_set",
        ((F.col("sum_lse1") / (F.col("m") * F.lit(ts))
          + F.col("sum_lse2") / (F.col("m") * F.lit(temperature)))
         / F.lit(denominator)).alias("score"))


def maxsim_scores_sql(query_vecs: DataFrame, data_vecs: DataFrame,
                      **cols) -> DataFrame:
    """MaxSim: sum over query members of max over data members."""
    pairs = _member_pairs(query_vecs, data_vecs, **cols)
    per_member = pairs.groupBy("q_set", "d_set", "q_vec").agg(
        F.max("sim").alias("best"))
    return per_member.groupBy("q_set", "d_set").agg(
        F.sum("best").alias("score"))


def set_topk_sql(query_vecs: DataFrame, data_vecs: DataFrame, k: int,
                 metric: str = "smooth_chamfer", **cols) -> DataFrame:
    scorer = {"smooth_chamfer": smooth_chamfer_scores_sql,
              "summed_max_similarity": maxsim_scores_sql}[metric]
    scores = scorer(query_vecs, data_vecs, **cols)
    return grouped_topk(
        scores, ["q_set"], [F.col("score").desc(), F.col("d_set").asc()], k
    ).select(F.col("q_set").alias("query_set_id"), "rank",
             F.col("d_set").alias("data_set_id"), "score")


def _grouped_sets(vec_df: DataFrame, set_id: str, pos: str | None,
                  vec_col: str) -> DataFrame:
    """(set_id, mat: array<array<...>>) with deterministic member order.

    Members keep their stored precision through the shuffle (float rows
    are half the bytes of double ones); the NumPy side widens them to
    float64, which is exact, as a Spark cast to double would be."""
    order_col = F.col(pos) if pos else F.col("vec_id")
    return (
        vec_df.groupBy(F.col(set_id).alias("set_id"))
        .agg(F.sort_array(F.collect_list(F.struct(
            order_col.alias("o"), F.col(vec_col).alias("v")
        ))).alias("rows"))
        .select("set_id", F.col("rows.v").alias("mat"))
    )


def fetch_grouped_sets(query_vecs: DataFrame, set_id: str = "set_id",
                       pos: str | None = None,
                       vec_col: str = "vec") -> list:
    """Arrow-fetch the (small) query side once: [(set_id, matrix), ...].

    Build-once / search-many callers pass the result straight to
    ``set_topk_gemm`` instead of a DataFrame, skipping the grouped
    fetch's 2-3 Spark jobs on every repeated search (the reference
    loads its query fbin once and benchmarks search alone)."""
    q_pdf = _grouped_sets(query_vecs, set_id, pos, vec_col).toPandas()
    return [(s, np.array([np.asarray(v) for v in m], dtype=np.float64))
            for s, m in zip(q_pdf["set_id"], q_pdf["mat"])]


def set_topk_gemm(query_vecs, data_vecs: DataFrame, k: int,
                  metric: str = "smooth_chamfer",
                  set_id: str = "set_id", pos: str | None = None,
                  vec_col: str = "vec") -> DataFrame:
    """Scale path: broadcast query sets, stream data sets, batch GEMM.

    ``query_vecs`` is a DataFrame, or a pre-fetched
    ``fetch_grouped_sets`` list (the knn_exact_gemm tuple pattern).
    Data sets are grouped (shuffle keyed on set_id — at 100 TB each set
    is <= ~8 rows so the shuffle is balanced), then scored one Arrow batch
    at a time: the batch's member matrices are stacked into a single GEMM
    (`ComputeSmoothChamferDistanceBatch` shape), LSE'd block-wise, and only
    the per-batch top-k per query survives to the final merge.
    """
    return _scan_topk(query_vecs, _grouped_sets(data_vecs, set_id, pos,
                                                vec_col),
                      k, metric, set_id, pos, vec_col)


def proposed_topk(query_vecs, data_vecs: DataFrame, proposals: DataFrame,
                  k: int, metric: str = "smooth_chamfer") -> DataFrame:
    """The same scan restricted to proposed (query set, data set) pairs:
    the rerank phase (`MultiVectorReranker::Rerank`).

    ``proposals``: (set_id, qsids) — each data set with the query set
    ids that proposed it. Data sets nobody proposed drop out in the
    join; each query set then scores only the sets it proposed."""
    return _scan_topk(query_vecs,
                      _grouped_sets(data_vecs, "set_id", None, "vec")
                      .join(proposals, "set_id"),
                      k, metric)


class StackedSets(NamedTuple):
    """Decoded data sets: the members of set ``ids[i]`` are rows
    ``offsets[i] : offsets[i] + cards[i]`` of ``concat``."""
    ids: np.ndarray
    concat: np.ndarray
    cards: np.ndarray
    offsets: np.ndarray


def _stacked(ids: np.ndarray, concat: np.ndarray,
             cards: np.ndarray) -> StackedSets:
    return StackedSets(ids, concat, cards, np.cumsum(cards) - cards)


def _decode_sets(pdf: pd.DataFrame) -> StackedSets:
    """One Arrow batch of ``_grouped_sets`` rows, widened to float64."""
    mats = [np.stack([np.asarray(r, dtype=np.float64) for r in m])
            for m in pdf["mat"]]
    return _stacked(pdf["set_id"].to_numpy(dtype=np.int64), np.vstack(mats),
                    np.array([len(m) for m in mats], dtype=np.int64))


def fetch_stacked_sets(data_vecs: DataFrame) -> StackedSets:
    """Arrow-fetch data_vecs(set_id, vec_id, vec) in one job with no
    shuffle, grouped as ``_grouped_sets`` groups it: sets by ascending
    id, members by ascending vec_id, widened to float64."""
    pdf = data_vecs.select("set_id", "vec_id", "vec").toPandas()
    sids = pdf["set_id"].to_numpy(dtype=np.int64)
    order = np.lexsort((pdf["vec_id"].to_numpy(dtype=np.int64), sids))
    ids, cards = np.unique(sids, return_counts=True)
    concat = (np.stack(pdf["vec"].to_numpy()[order]).astype(np.float64)
              if len(pdf) else np.empty((0, 0), dtype=np.float64))
    return _stacked(ids, concat, cards)


def gather_rows(sets: StackedSets, sel: np.ndarray) -> np.ndarray:
    """Row indices into ``sets.concat`` of the members of sets ``sel``,
    set after set: one repeat of each set's shift plus one arange."""
    c = sets.cards[sel]
    return np.repeat(sets.offsets[sel] - (np.cumsum(c) - c), c) \
        + np.arange(c.sum())


def topk_of(metric: str, qmat: np.ndarray, sets: StackedSets,
            sel: np.ndarray | None, k: int) -> tuple:
    """The one set scorer: score ``qmat`` against the sets ``sel`` (every
    set when None), members gathered by offset, and keep the top k by
    (score desc, id asc) — argpartition would drop ties arbitrarily, see
    brute_force.py. Returns (ids, scores)."""
    if sel is None:
        ids, data, cards = sets.ids, sets.concat, sets.cards
    else:
        ids, data, cards = (sets.ids[sel], sets.concat[gather_rows(sets, sel)],
                            sets.cards[sel])
    scores = M.SET_METRICS_BATCH[metric](qmat, data, cards)
    top = np.lexsort((ids, -scores))[:k]
    return ids[top], scores[top]


def _proposed(qsids: pd.Series) -> Iterator[tuple]:
    """(query set id, positions of the batch rows it proposed) for each
    query set listed in a batch's ``qsids`` column."""
    lens = np.fromiter((len(x) for x in qsids), dtype=np.int64,
                       count=len(qsids))
    if not lens.sum():
        return
    qs = np.concatenate([np.asarray(x, dtype=np.int64) for x in qsids])
    rows = np.repeat(np.arange(len(qsids)), lens)
    order = np.argsort(qs, kind="stable")
    qs, rows = qs[order], rows[order]
    cuts = np.flatnonzero(np.diff(qs)) + 1
    yield from zip(qs[np.concatenate(([0], cuts))].tolist(),
                   np.split(rows, cuts))


_PAIR_SCHEMA = StructType([
    StructField("query_set_id", LongType()),
    StructField("data_set_id", LongType()),
    StructField("score", DoubleType()),
])


def _scan_topk(query_vecs, sets: DataFrame, k: int, metric: str,
               set_id: str = "set_id", pos: str | None = None,
               vec_col: str = "vec") -> DataFrame:
    """``sets`` (set_id, mat[, qsids]) streamed one Arrow batch at a time
    against the broadcast query sets through ``topk_of``, then the
    global ``grouped_topk`` merge. With a ``qsids`` column a query set
    scores only the rows that list it."""
    if metric not in M.SET_METRICS_BATCH:
        raise ValueError(f"unknown metric {metric!r}")
    from ..util import cached_broadcast

    spark = sets.sparkSession
    # a pre-fetched (build-once) query list broadcasts once per session;
    # metric/k ride in the closure
    bc = (cached_broadcast(spark, query_vecs) if isinstance(query_vecs, list)
          else spark.sparkContext.broadcast(
              fetch_grouped_sets(query_vecs, set_id, pos, vec_col)))
    proposed = "qsids" in sets.columns

    def score_batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        q_mats = dict(bc.value)
        for pdf in it:
            batch = _decode_sets(pdf)
            work = (_proposed(pdf["qsids"]) if proposed
                    else ((q, None) for q in q_mats))
            frames = []
            for qid, sel in work:
                ids, scores = topk_of(metric, q_mats[qid], batch, sel, k)
                frames.append(pd.DataFrame({
                    "query_set_id": np.full(len(ids), qid, dtype=np.int64),
                    "data_set_id": ids,
                    "score": scores,
                }))
            if frames:
                yield pd.concat(frames)

    partials = sets.mapInPandas(score_batches, schema=_PAIR_SCHEMA)
    return grouped_topk(
        partials, ["query_set_id"],
        [F.col("score").desc(), F.col("data_set_id").asc()], k,
    ).select("query_set_id", "rank", "data_set_id", "score")
