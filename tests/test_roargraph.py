"""RoarGraph build + multi-vector search, recall-gated vs the exact oracle.

Recall (not graph equality) is the reference's own correctness notion
(SURVEY §5): the ANN path must reach the exact smooth-Chamfer top-k with
high recall at a generous beam budget on toy data (FIXTURES.md check 6).
"""

import numpy as np
import pytest
from pyspark.sql import functions as F

from cross_modal_multivector_search_spark import testdata as TD
from cross_modal_multivector_search_spark.operators import (
    _roar_core as core, graph_build, graph_search, recall, rerank,
    set_search,
)
from cross_modal_multivector_search_spark.plans import plan_text

from conftest import SF_SMOKE


def test_beam_queue_semantics():
    q = core.BeamQueue(3)
    q.insert(10, 0.5)
    q.insert(11, 0.2)
    q.insert(12, 0.9)
    q.insert(13, 0.1)          # evicts 12 (0.9)
    assert list(q.ids[:q.size]) == [13, 11, 10]
    q.insert(11, 0.2)          # dup rejected
    assert q.size == 3
    nid, d = q.closest_unexpanded()
    assert nid == 13 and d == pytest.approx(0.1)
    assert q.has_unexpanded()


def test_occlusion_prune_degree_and_backfill():
    rng = np.random.default_rng(0)
    vecs = rng.normal(size=(50, 8))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    cand = np.arange(1, 40, dtype=np.int64)
    dists = -(vecs[cand] @ vecs[0])
    out = core.occlusion_prune(cand, dists, vecs, 10, exclude=0)
    assert len(out) == 10
    assert len(set(out)) == 10 and 0 not in out
    # nearest candidate always survives as the seed
    assert out[0] == cand[np.argmin(dists)]


@pytest.fixture(scope="module")
def index_and_vecs(spark):
    vecs = TD.embeddings_norm(spark, SF_SMOKE).cache()
    base = vecs.select("vec_id", "vec")
    # train queries = the data-side members themselves (self-training is
    # the degenerate-but-valid bipartite input at toy scale)
    train = vecs.select("vec_id", "vec")
    params = graph_build.RoarGraphParams(m_sq=20, m_pjbp=12, l_pjpq=40)
    index = graph_build.build_roargraph(base, train, params)
    return index, vecs


def test_batch_supply_search_matches_sequential():
    """The wave-vectorized pass-3 search must reproduce the sequential
    per-node traces exactly (ids + expansion order; dists to 1 ulp —
    einsum vs gemv accumulation)."""
    rng = np.random.default_rng(11)
    n, d = 400, 16
    vecs = rng.normal(size=(n, d))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    adj = [np.unique(rng.integers(0, n, size=rng.integers(2, 12)))
           for _ in range(n)]
    adj = [a[a != i] for i, a in enumerate(adj)]
    nodes = np.arange(n, dtype=np.int64)
    batch = core.batch_supply_search_collect(adj, vecs, nodes, ep=3,
                                             beam_width=20, batch_rows=64)
    for i in range(n):
        si, sd = core.supply_search_collect(adj, vecs, vecs[i], i, 3, 20)
        bi, bd = batch[i]
        assert np.array_equal(si, bi), f"node {i} trace ids diverge"
        assert np.allclose(sd, bd, atol=1e-12)


def test_batch_multivector_search_matches_sequential():
    """The batched search must reproduce every set's sequential result
    exactly — including the adaptive budget-allocation trajectory —
    across set sizes, budgets, and forced sub-batching."""
    rng = np.random.default_rng(23)
    n, d = 300, 16
    vecs = rng.normal(size=(n, d))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    adj = [np.unique(rng.integers(0, n, size=rng.integers(2, 14)))
           for _ in range(n)]
    adj = [a[a != i] for i, a in enumerate(adj)]
    sets = [rng.normal(size=(rng.integers(1, 6), d)) for _ in range(40)]
    sets = [q / np.linalg.norm(q, axis=1, keepdims=True) for q in sets]
    for adaptive in (True, False):
        batch = core.batch_multivector_search(
            adj, vecs, sets, ep=7, min_pq=5, max_pq=40, budget=60,
            adaptive=adaptive, mem_budget_bytes=40 * (n + 1))
        for qi, q in enumerate(sets):
            seq = core.multivector_search(adj, vecs, q, 7, 5, 40, 60,
                                          adaptive)
            assert len(seq) == len(batch[qi])
            for (si, sd), (bi, bd) in zip(seq, batch[qi]):
                assert np.array_equal(si, bi), \
                    f"set {qi} member ids diverge (adaptive={adaptive})"
                assert np.allclose(sd, bd, atol=1e-12)


def test_graph_shape(index_and_vecs):
    index, _ = index_and_vecs
    n = len(index.ids)
    degrees = np.array([len(a) for a in index.adj])
    assert n == 500
    assert degrees.max() <= 3 * 12  # M_pjbp + up to 2*M_pjbp merged
    assert (degrees > 0).mean() > 0.95
    assert 0 <= index.entry_point < n


def test_single_vector_beam_search_finds_exact_nn(index_and_vecs):
    index, _ = index_and_vecs
    # for every 20th base vector as query, the graph search at a generous
    # beam must find the true nearest neighbor (itself)
    for qid in range(0, 500, 20):
        ids, dists = core.beam_search(
            index.adj, index.vecs, index.vecs[qid],
            index.entry_point, 50, k=5)
        assert qid in ids[:3]


def test_multivector_search_recall_vs_exact(spark, index_and_vecs):
    index, vecs = index_and_vecs
    queries = vecs.filter(F.col("set_id") < 10)
    gt = set_search.set_topk_sql(queries, vecs, 10).select(
        "query_set_id", "data_set_id")
    out = graph_search.search_and_rerank(
        index, queries, vecs, 10,
        graph_search.SearchParams(min_pq=5, max_pq=400, budget=400),
        m=TD.M_FIXED)
    mr = recall.mean_recall(
        out.select("query_set_id", "data_set_id"), gt, 10
    ).collect()[0]["mean_recall"]
    assert mr >= 0.95, f"ANN recall {mr} below threshold"


def test_adaptive_beats_or_matches_equal_split(index_and_vecs):
    """Budget allocation sanity: adaptive never returns fewer candidates
    than requested minimum and respects the budget."""
    index, _ = index_and_vecs
    rng = np.random.default_rng(7)
    q = rng.normal(size=(5, index.vecs.shape[1]))
    q /= np.linalg.norm(q, axis=1, keepdims=True)
    res = core.multivector_search(
        index.adj, index.vecs, q, index.entry_point,
        min_pq=5, max_pq=100, budget=100, adaptive=True)
    sizes = [len(ids) for ids, _ in res]
    assert all(s >= 5 for s in sizes)
    assert sum(sizes) <= 100
    res_eq = core.multivector_search(
        index.adj, index.vecs, q, index.entry_point,
        min_pq=5, max_pq=100, budget=100, adaptive=False)
    assert all(len(ids) == 20 for ids, _ in res_eq)


def test_shared_visited_variant_recall(spark, index_and_vecs):
    """The shared-visited-list variant must reach comparable recall at
    equal budget (it dedups neighborhood expansions across members)."""
    index, vecs = index_and_vecs
    queries = vecs.filter(F.col("set_id") < 10)
    gt = set_search.set_topk_sql(queries, vecs, 10).select(
        "query_set_id", "data_set_id")
    out = graph_search.search_and_rerank(
        index, queries, vecs, 10,
        graph_search.SearchParams(min_pq=5, max_pq=400, budget=400,
                                  shared_visited=True),
        m=TD.M_FIXED)
    mr = recall.mean_recall(
        out.select("query_set_id", "data_set_id"), gt, 10
    ).collect()[0]["mean_recall"]
    assert mr >= 0.9, f"shared-visited recall {mr}"


def test_graph_save_load_roundtrip(spark, index_and_vecs, tmp_path):
    index, vecs = index_and_vecs
    path = str(tmp_path / "roar")
    graph_build.save_graph(index, spark, path)
    loaded = graph_build.load_graph(spark, path, vecs.select("vec_id", "vec"))
    assert loaded.entry_point == index.entry_point
    assert len(loaded.adj) == len(index.adj)
    for a, b in zip(loaded.adj, index.adj):
        assert list(a) == list(b)


# A budget well below saturation: each query set proposes only part of
# the 100 data sets, so the candidate -> set gather is exercised.
_PARTIAL = graph_search.SearchParams(min_pq=5, max_pq=60, budget=60)


def _ranked(df):
    return df.toPandas().sort_values(["query_set_id", "rank"]) \
        .reset_index(drop=True)


def _fused_equals_two_phase(index, q, data, params=_PARTIAL, **kw):
    """The fused search_and_rerank against multivector_search +
    rerank.rerank: same ids and ranks, scores within 1e-12."""
    fused = _ranked(graph_search.search_and_rerank(
        index, q, data, 10, params, **kw))
    cands = graph_search.multivector_search(index, q, params)
    want = _ranked(rerank.rerank(
        cands.select("query_set_id", "base_vec_id"), q, data, 10, **kw))
    assert len(fused) > 0
    cols = ["query_set_id", "rank", "data_set_id"]
    assert np.array_equal(fused[cols].to_numpy(), want[cols].to_numpy())
    assert np.abs(fused["score"] - want["score"]).max() <= 1e-12
    return fused


@pytest.mark.parametrize("metric", ["smooth_chamfer",
                                    "summed_max_similarity"])
def test_fused_search_and_rerank_equals_two_phase(index_and_vecs, metric):
    index, vecs = index_and_vecs
    q = vecs.filter(F.col("set_id") < 12)
    out = _fused_equals_two_phase(index, q, vecs, metric=metric,
                                  m=TD.M_FIXED)
    assert set(out["query_set_id"]) == set(range(12))


def test_fused_search_and_rerank_variable_cardinality(spark,
                                                     index_and_vecs):
    """Sets of 1..4 members through the cardinality mapping; the index
    also holds vids no range covers, which drop as the range join drops
    them."""
    from cross_modal_multivector_search_spark.operators import mapping
    index, vecs = index_and_vecs
    v = vecs.filter(F.col("vec_id") < 200).drop("set_id")
    m_map = mapping.cardinality_mapping_local(
        spark, [(s, 1 + s % 4) for s in range(80)])
    data = mapping.vid_to_vsid_variable(v, m_map)
    q = data.filter(F.col("set_id").isin(1, 2, 7, 30))
    _fused_equals_two_phase(index, q, data, mapping=m_map)


def test_fused_search_and_rerank_shared_visited(index_and_vecs):
    index, vecs = index_and_vecs
    q = vecs.filter(F.col("set_id") < 8)
    _fused_equals_two_phase(
        index, q, vecs,
        graph_search.SearchParams(min_pq=5, max_pq=60, budget=60,
                                  shared_visited=True),
        m=TD.M_FIXED)


def test_fused_search_and_rerank_drops_sets_missing_from_data(
        index_and_vecs):
    """Proposed sets absent from data_vecs drop out, as the rerank's
    join drops them."""
    index, vecs = index_and_vecs
    q = vecs.filter(F.col("set_id") < 8)
    data = vecs.filter(F.col("set_id") % 2 == 0)
    out = _fused_equals_two_phase(index, q, data, m=TD.M_FIXED)
    assert (out["data_set_id"] % 2 == 0).all()


def test_fused_search_and_rerank_scores_from_data_vecs(index_and_vecs):
    """Candidates come from the index, scores from data_vecs: with data
    vectors unlike the index's, the fused stage still equals the two
    phases and differs from scoring the index's own vectors."""
    index, vecs = index_and_vecs
    q = vecs.filter(F.col("set_id") < 8)
    data = vecs.withColumn("vec", F.reverse("vec"))
    out = _fused_equals_two_phase(index, q, data, m=TD.M_FIXED)
    own = _ranked(graph_search.search_and_rerank(
        index, q, vecs, 10, _PARTIAL, m=TD.M_FIXED))
    assert np.abs(out["score"] - own["score"]).max() > 1e-3


def test_fused_search_and_rerank_is_one_python_stage(index_and_vecs):
    """One MapInPandas (search, gather, score and top-k together) and no
    Exchange above it: no candidate shuffle and no top-k merge."""
    index, vecs = index_and_vecs
    df = graph_search.search_and_rerank(
        index, vecs.filter(F.col("set_id") < 4), vecs, 10, _PARTIAL,
        m=TD.M_FIXED)
    lines = plan_text(df, "simple").splitlines()
    py = [i for i, ln in enumerate(lines) if "MapInPandas" in ln]
    assert len(py) == 1, "\n".join(lines)
    assert not any("Exchange" in ln for ln in lines[:py[0]])
