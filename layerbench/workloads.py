"""The three workloads: set-up, one closed-loop request, its output
check, and (traced runs only) the layer spans and in-process probes.

Untraced requests call the engine exactly as a user would
(``search_and_rerank``, ``set_topk_gemm``, ``curate_corpus``). Traced
requests call the same layers one at a time and materialize each lazy
result before the next span starts, so a span's time is its layer's.
"""

from __future__ import annotations

import time
from dataclasses import dataclass, field

import numpy as np
import pandas as pd
from pyspark.sql import functions as F

from cross_modal_multivector_search_spark.functions import metrics as M
from cross_modal_multivector_search_spark.operators import (
    _roar_core as core, brute_force, curation, dedup, graph_build,
    graph_search, rerank, set_search, text)

from . import fixtures as FX
from .oracle import (SCORE_TOL, VectorOracle, check_survivors,
                     curate_survivors)

K = 10
ROAR_PARAMS = graph_build.RoarGraphParams(m_sq=20, m_pjbp=12, l_pjpq=40)
SEARCH_PARAMS = graph_search.SearchParams(min_pq=5, max_pq=500,
                                          budget=500)
INSTRUMENTED_SETS = 4     # sets of the first traced request run through
                          # the sequential instrumented kernel
SCORER_PROBE_SETS = 3
EXACT_PROBE_SETS = 32


@dataclass
class Probe:
    """Per-layer numbers gathered after one traced request. ``counts``
    are taken from the run's first traced request, whose inputs are
    fixed for a seed; ``rates`` are medians over all traced requests."""
    counts: dict = field(default_factory=dict)
    rates: dict = field(default_factory=dict)
    errors: list = field(default_factory=list)


class Workload:
    name = ""
    item = ""              # what items_per_s counts
    inputs = "vectors"     # which staged fixture the workload reads
    setup_reps = 3
    warmup = 3             # untimed requests before the closed loop
    batch = 1              # items per request

    def __init__(self, spark, manifest: dict):
        self.spark, self.tables = spark, manifest["tables"]

    def max_requests(self) -> int:
        raise NotImplementedError

    def prepare_oracle(self) -> None:
        """Untimed: load what the output checks need."""

    def setup(self, tracer):
        raise NotImplementedError

    def request(self, state, req: int, tracer):
        """Run request ``req``; return (items, output, counters)."""
        raise NotImplementedError

    def check(self, req: int, out) -> list[str]:
        raise NotImplementedError

    def probes(self, state, req: int, counters: dict, tracer) -> Probe:
        """Traced runs: layer counts and in-process probes after a
        request."""
        return Probe()

    def recall(self, done) -> float:
        """Share of the oracle's answer returned, over ``done``."""
        raise NotImplementedError


class _VectorWorkload(Workload):
    item = "query sets"

    def max_requests(self) -> int:
        return FX.N_POOL_SETS // self.batch

    def prepare_oracle(self) -> None:
        data_ids, data = FX.load_sets(self.tables["base"]["path"])
        q_ids, queries = FX.load_sets(self.tables["query_sets"]["path"])
        self.pool = q_ids
        self.oracle = VectorOracle(data_ids, data, q_ids, queries, K)

    def sets_of(self, req: int) -> list[int]:
        return [int(s) for s in self.pool[req * self.batch:
                                          (req + 1) * self.batch]]

    def query_frame(self, qsets, ids: list[int]):
        """The query vectors of a contiguous run of set ids."""
        return qsets.filter(F.col("set_id").between(ids[0], ids[-1]))

    def _scorer_probe(self, req: int, tracer) -> tuple[float, list]:
        """One query set against every data set through the engine's
        batched scorer, timed in this process: (set pairs per second,
        errors). Its scores must match the oracle's."""
        fn = M.SET_METRICS_BATCH["smooth_chamfer"]
        data = self.oracle.data
        concat = data.reshape(-1, data.shape[2])
        cards = np.full(len(data), data.shape[1], dtype=np.int64)
        times, errs = [], []
        for q in self.sets_of(req)[:SCORER_PROBE_SETS]:
            with tracer.span("metrics.set_pairs", request_id=req,
                             probe=True):
                t0 = time.perf_counter()
                s = fn(self.oracle.query(q), concat, cards)
                times.append(time.perf_counter() - t0)
            if np.abs(s - self.oracle.scores(q)).max() > SCORE_TOL:
                errs.append(f"scorer probe: set {q} differs from oracle")
        return len(data) / float(np.median(times)), errs

    def recall(self, done) -> float:
        return self.oracle.recall(
            pd.concat([d.out for d in done], ignore_index=True),
            [q for d in done for q in self.sets_of(d.req)])


def _exact_scan(tracer, qv, base, req: int, probe: bool):
    """``set_topk_gemm`` with its query fetch as a span of its own."""
    with tracer.span("set_search.fetch", request_id=req, probe=probe):
        q_sets = set_search.fetch_grouped_sets(qv)
    with tracer.span("set_search.topk_gemm", request_id=req, probe=probe):
        return set_search.set_topk_gemm(q_sets, base, K).toPandas()


class AnnCrossmodal(_VectorWorkload):
    name = "ann_crossmodal"
    warmup = 8             # the request path takes ~8 requests to settle
    batch = 32
    _instrumented: dict | None = None

    def setup(self, tracer):
        spark = self.spark
        with tracer.span("fixture.read"):
            base = spark.read.parquet(self.tables["base"]["path"])
            train = spark.read.parquet(self.tables["train_queries"]["path"])
            qsets = spark.read.parquet(self.tables["query_sets"]["path"])
        base_iv = base.select("vec_id", "vec")
        if not tracer.enabled:
            index = graph_build.build_roargraph(base_iv, train, ROAR_PARAMS)
        else:
            with tracer.span("brute_force.train_knn"):
                knn = brute_force.knn_exact_gemm(
                    train.select(F.col("vec_id").alias("query_id"), "vec"),
                    base.select(F.col("vec_id").alias("base_id"), "vec"),
                    ROAR_PARAMS.m_sq, metric="ip").cache()
                knn.count()
            with tracer.span("graph_build.build"):
                index = graph_build.build_roargraph(
                    base_iv, train, ROAR_PARAMS, train_knn=knn)
            knn.unpersist()
        return {"base": base, "qsets": qsets, "index": index,
                "edges": int(sum(len(a) for a in index.adj))}

    def request(self, state, req: int, tracer):
        qv = self.query_frame(state["qsets"], self.sets_of(req))
        idx, base = state["index"], state["base"]
        counters = {}
        if not tracer.enabled:
            out = graph_search.search_and_rerank(
                idx, qv, base, K, SEARCH_PARAMS, m=FX.M).toPandas()
        else:
            with tracer.span("graph_search.search"):
                cands = graph_search.multivector_search(
                    idx, qv, SEARCH_PARAMS).cache()
                counters["candidates"] = cands.count()
            with tracer.span("rerank.rerank"):
                out = rerank.rerank(
                    cands.select("query_set_id", "base_vec_id"), qv, base,
                    K, m=FX.M).toPandas()
            cands.unpersist()
        return self.batch, out, counters

    def check(self, req: int, out) -> list[str]:
        return self.oracle.check_rerank(out, self.sets_of(req))

    def probes(self, state, req: int, counters: dict, tracer) -> Probe:
        idx, p = state["index"], SEARCH_PARAMS
        queries = [self.oracle.query(q) for q in self.sets_of(req)]
        probe = Probe()
        with tracer.span("roar_core.batch_multivector_search",
                         request_id=req, probe=True):
            t0 = time.perf_counter()
            res = core.batch_multivector_search(
                idx.adj, idx.vecs, queries, idx.entry_point, p.min_pq,
                p.max_pq, p.budget, p.adaptive)
            kernel_s = time.perf_counter() - t0
        n_cands = sum(len(c) for members in res for c, _ in members)
        if n_cands != counters["candidates"]:
            probe.errors.append(
                f"kernel probe found {n_cands} candidates, the Spark "
                f"search emitted {counters['candidates']}")
        cand_sets = [len(np.unique(np.concatenate(
            [idx.ids[c] for c, _ in members]) // FX.M)) for members in res]
        probe.counts.update({
            "graph_search.candidates_per_set": n_cands / len(queries),
            "rerank.candidate_sets_per_query": float(np.mean(cand_sets))})
        probe.rates["roar_core.kernel_ms_per_set"] = (
            1e3 * kernel_s / len(queries))
        if self._instrumented is None:
            # the sequential kernel is slow: once per run, on the first
            # traced request's sets
            self._instrumented = self._instrumented_probe(
                idx, queries[:INSTRUMENTED_SETS], res, req, tracer, probe)
        probe.counts.update(self._instrumented)
        rate, errs = self._scorer_probe(req, tracer)
        probe.rates["metrics.set_pairs_per_s"] = rate
        probe.errors += errs
        # the exact scan's decode and scoring layers, on this request's
        # first EXACT_PROBE_SETS query sets against every data set
        ids = self.sets_of(req)[:EXACT_PROBE_SETS]
        out = _exact_scan(tracer, self.query_frame(state["qsets"], ids),
                          state["base"], req, probe=True)
        probe.errors += self.oracle.check_exact(out, ids)
        return probe

    def _instrumented_probe(self, idx, queries, batch_res, req, tracer,
                            probe) -> dict:
        """Distance computations and visited overlap from the
        instrumented kernel; its candidates must equal the batch
        kernel's."""
        p = SEARCH_PARAMS
        visited, ratios = [], []
        for q, want in zip(queries, batch_res):
            with tracer.span("roar_core.instrumented", request_id=req,
                             probe=True):
                got, stats = core.multivector_search_instrumented(
                    idx.adj, idx.vecs, q, idx.entry_point, p.min_pq,
                    p.max_pq, p.budget, p.adaptive)
            visited.append(stats["total_visited"])
            ratios.append(stats["unique_ratio"])
            # same ids per member; the wave kernel sums distances in
            # another order
            if not all(np.array_equal(a[0], b[0])
                       and np.allclose(a[1], b[1], rtol=0, atol=SCORE_TOL)
                       for a, b in zip(got, want)):
                probe.errors.append("instrumented kernel candidates differ "
                                    "from batch_multivector_search")
        return {"roar_core.visited_per_set": float(np.mean(visited)),
                "roar_core.unique_visited_ratio": float(np.mean(ratios))}


class ExactSetScan(_VectorWorkload):
    name = "exact_set_scan"
    warmup = 5
    batch = EXACT_PROBE_SETS

    def setup(self, tracer):
        with tracer.span("fixture.read"):
            base = self.spark.read.parquet(self.tables["base"]["path"])
            qsets = self.spark.read.parquet(
                self.tables["query_sets"]["path"])
            n = base.count()
        if n != self.tables["base"]["rows"]:
            raise RuntimeError(f"base read {n} rows, staged "
                               f"{self.tables['base']['rows']}")
        return {"base": base, "qsets": qsets}

    def request(self, state, req: int, tracer):
        qv = self.query_frame(state["qsets"], self.sets_of(req))
        if not tracer.enabled:
            out = set_search.set_topk_gemm(qv, state["base"], K).toPandas()
        else:
            out = _exact_scan(tracer, qv, state["base"], req, probe=False)
        return self.batch, out, {}

    def check(self, req: int, out) -> list[str]:
        return self.oracle.check_exact(out, self.sets_of(req))

    def probes(self, state, req: int, counters: dict, tracer) -> Probe:
        rate, errs = self._scorer_probe(req, tracer)
        return Probe(rates={"metrics.set_pairs_per_s": rate}, errors=errs)


CURATE_ARGS = dict(quality_threshold=0.5, langs=("en",), num_hashes=8,
                   bands=4, shingle_n=3)


class TextCurate(Workload):
    name = "text_curate"
    item = "documents"
    inputs = "documents"

    def max_requests(self) -> int:
        return 1_000_000

    def prepare_oracle(self) -> None:
        self.batch = self.tables["documents"]["rows"]
        self.want = curate_survivors(self.tables["documents"]["path"])

    def setup(self, tracer):
        with tracer.span("fixture.read"):
            docs = self.spark.read.parquet(self.tables["documents"]["path"])
            n = docs.count()
        if n != self.tables["documents"]["rows"]:
            raise RuntimeError(f"documents read {n} rows, staged "
                               f"{self.tables['documents']['rows']}")
        return {"docs": docs}

    def request(self, state, req: int, tracer):
        docs = state["docs"]
        counters = {}
        if not tracer.enabled:
            out = curation.curate_corpus(docs, **CURATE_ARGS).toPandas()
        else:
            a = CURATE_ARGS
            with tracer.span("dedup.lsh_pairs"):
                pairs = dedup.minhash_lsh_pairs(
                    docs, a["num_hashes"], a["bands"], a["shingle_n"],
                    dedup_pairs=False).cache()
                counters["lsh_pairs"] = pairs.count()
            with tracer.span("curation.curate_corpus"):
                out = curation.curate_corpus(docs, pairs=pairs,
                                             **CURATE_ARGS).toPandas()
            counters["pairs"] = pairs
        counters["survivors"] = len(out)
        return self.batch, out, counters

    def check(self, req: int, out) -> list[str]:
        return check_survivors(out, self.want)

    def probes(self, state, req: int, counters: dict, tracer) -> Probe:
        # curate_corpus takes no resolved components or features, so
        # those layers run inside its span; each is also timed here on
        # its own, after the request, as a probe
        pairs = counters.pop("pairs")
        with tracer.span("dedup.connected_components", request_id=req,
                         probe=True):
            comps = dedup.connected_components(pairs).cache()
            comps.count()
        with tracer.span("text.lang_quality", request_id=req, probe=True):
            feats = text.lang_quality(state["docs"]).cache()
            feats.count()
        probe = Probe(counts={
            "dedup.lsh_pairs": counters["lsh_pairs"],
            "dedup.components": comps.select("component").distinct()
            .count(),
            "curation.survivors": counters["survivors"]})
        for df in (pairs, comps, feats):
            df.unpersist()
        return probe

    def recall(self, done) -> float:
        want = set(self.want["doc_id"].astype(int))
        return float(np.mean([
            len(want & set(d.out["doc_id"].astype(int))) / len(want)
            for d in done]))


WORKLOADS = {w.name: w for w in (AnnCrossmodal, ExactSetScan, TextCurate)}
