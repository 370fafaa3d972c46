"""Benchmark harness: headline queries at $SPARK_GRAFT_SF_DIR.

Prints ONE JSON line:
  {"metric": ..., "value": total_sec, "unit": "sec",
   "queries": {name: sec, ...}, "sf": ...}

The headline set covers every engine subsystem at its scale path:
GEMM kNN, batched-GEMM set top-k, two-phase rerank, the ANN index
build + adaptive multi-vector search, IVF search, and the pipeline
extras (minhash LSH, simhash, near-dup join, token stats).
"""

from __future__ import annotations

import json
import os
import re
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import __spark_entry__ as E
from cross_modal_multivector_search_spark.session import get_spark

HEADLINE = [
    "knn_ip_topk_gemm",
    "chamfer_topk_gemm",
    "maxsim_topk_gemm",
    "rerank_two_phase",
    "ann_multivector_search",   # broadcast single index (cached build)
    "ann_sharded_search",       # sharded build + fan-out search
    "ivf_topk",
    "minhash_lsh_pairs",
    "dedup_clusters",           # LSH pairs -> connected components
    "dup_ngram_spans",          # substring-dedup spans (new in r8 —
                                # totals are not comparable to r<=7)
    "corpus_curate",            # full curation pipeline composition
    "simhash_fingerprints",
    "embedding_near_dup",
    "token_stats",
    "tfidf_top_terms",
    "bm25_rank",
    "chamfer_varcard_gemm",
    "quality_scores",
    "sessionize_events",
    "windowed_event_counts",
    "nation_revenue",
]


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    m = re.search(r"sf([\d.]+)", sf_dir)
    sf = float(m.group(1)) if m else -1.0
    spark = get_spark("cmms-bench")
    spark.sparkContext.setLogLevel("ERROR")
    qs = E.queries()

    # warmup: spin up the JVM scan paths and one Python worker so the
    # first timed query doesn't absorb one-time process startup
    qs["token_stats"](spark, sf_dir).count()
    qs["knn_ip_topk_gemm"](spark, sf_dir).count()

    timings: dict[str, float] = {}
    # index build timed separately: the reference builds offline and
    # benchmarks search alone (SURVEY §3.2 vs §3.1)
    t0 = time.time()
    E._roar_index(spark, sf_dir)
    timings["ann_index_build_or_load"] = round(time.time() - t0, 3)
    t0 = time.time()
    E._sharded_work(spark, sf_dir)
    timings["sharded_index_build_or_load"] = round(time.time() - t0, 3)
    t0 = time.time()
    E._hnsw_index(spark, sf_dir)
    timings["hnsw_index_build_or_load"] = round(time.time() - t0, 3)
    # steady-state protocol: one untimed pass per query absorbs Catalyst
    # analysis + whole-stage-codegen compilation (0.5-1s of driver-side
    # JIT per distinct plan, unrelated to data volume), then the timed
    # pass — the same warm footing the DuckDB oracle twins are measured
    # on (BASELINE comparisons are warm-vs-warm)
    # hnsw_search_b400: the reference's baseline comparison row — HNSW
    # fixed-split search at the SAME budget (400) the RoarGraph row
    # (ann_multivector_search) runs, per tests/hnsw/search_rerank_hnsw.cpp
    from cross_modal_multivector_search_spark.operators import hnsw as _h
    from cross_modal_multivector_search_spark.operators import (
        graph_search as _gs,
    )

    def hnsw_b400(spark, sf_dir):
        index = E._hnsw_index(spark, sf_dir)
        q, v = E._queries_norm(spark, sf_dir)
        return _h.search_and_rerank_hnsw(index, q, v, E.K, budget=400,
                                         m=E.M,
                                         q_sets=E._qsets("fixed", sf_dir, q))

    # ann_window_search_b1600: the same RoarGraph pipeline at budget
    # 1600 — far above WINDOW_ENGINE_MIN_PQ, so the search stage runs
    # the r13 windowed beam-pool engine (`_beam_window.py`). The other
    # graded budgets sit below the dispatch threshold and keep the
    # sorted kernel; this row makes plan/perf drift in the window
    # engine visible to the driver bench (VERDICT r13 directive #4).
    def ann_window_b1600(spark, sf_dir):
        index = E._roar_index(spark, sf_dir)
        q, v = E._queries_norm(spark, sf_dir)
        return _gs.search_and_rerank(
            index, q, v, E.K,
            _gs.SearchParams(min_pq=5, max_pq=1600, budget=1600), m=E.M)

    timed = {name: qs[name] for name in HEADLINE}
    # same prepared-plan protocol as the queries() rows (E._shipped)
    timed["hnsw_search_b400"] = E._shipped(hnsw_b400, "hnsw_search_b400")
    timed["ann_window_search_b1600"] = E._shipped(
        ann_window_b1600, "ann_window_search_b1600")
    for fn in timed.values():
        fn(spark, sf_dir).count()

    sc = spark.sparkContext
    tracker = sc.statusTracker()

    # contention protocol (r16, VERDICT r15 directive #1): this box's
    # noisy-neighbor steal is BURSTY — a single timed pass with one
    # end-of-pass canary shipped an r15 draw where 17 rows "regressed"
    # with strictly-leaner plans while the canary sampled clean. Now:
    # TWO full timed passes, an INTERLEAVED canary (nation_revenue,
    # probed untimed every CANARY_EVERY rows) so a mid-pass burst
    # invalidates only the span it hit, per-row value = MIN over the
    # row's clean draws, and a targeted third pass for any row whose
    # every draw landed in a hot span. All passes execute the full DAG
    # from parquet (the min is over real executions, not cached
    # results); both raw passes ship alongside for provenance.
    IDLE_CANARY = 0.65
    CANARY_EVERY = 6
    names = list(timed)

    def canary_probe() -> float:
        t0 = time.time()
        timed["nation_revenue"](spark, sf_dir).count()
        return round(time.time() - t0, 3)

    def timed_pass(pass_id: int, row_names: list
                   ) -> tuple[dict, dict, list, set]:
        # per-query UNIQUE job group: counting a group that only this
        # query's jobs ever join is exact regardless of listener lag or
        # retainedJobs eviction of OTHER groups; the listener bus is
        # drained before reading so just-finished jobs are registered.
        t, jobs, canaries, hot = {}, {}, [], set()
        span: list = []
        for i, name in enumerate(row_names):
            group = f"bench-p{pass_id}-{name}"
            sc.setJobGroup(group, name)
            t0 = time.time()
            timed[name](spark, sf_dir).count()
            t[name] = round(time.time() - t0, 3)
            try:
                sc._jsc.sc().listenerBus().waitUntilEmpty()
            except Exception:
                pass
            jobs[name] = len(tracker.getJobIdsForGroup(group))
            sc.setLocalProperty("spark.jobGroup.id", None)
            span.append(name)
            if (i + 1) % CANARY_EVERY == 0 or i == len(row_names) - 1:
                c = canary_probe()
                canaries.append(c)
                if c > 1.2 * IDLE_CANARY:
                    hot.update(span)
                span = []
        return t, jobs, canaries, hot

    run1, _, can1, hot1 = timed_pass(1, names)
    run2, job_counts, can2, hot2 = timed_pass(2, names)
    both_hot = hot1 & hot2
    can3: list = []
    run3: dict = {}
    if both_hot:
        run3, _, can3, _ = timed_pass(3, [n for n in names
                                          if n in both_hot])
    prov: dict[str, int] = {}
    for name in names:
        draws = []
        if name not in hot1:
            draws.append((run1[name], 1))
        if name not in hot2:
            draws.append((run2[name], 2))
        if name in run3:
            draws.append((run3[name], 3))
        if not draws:      # every draw contended: min of what we have
            draws = [(run1[name], 1), (run2[name], 2)]
        best, which = min(draws)
        timings[name] = best
        prov[name] = which
    canary_first = run1.get("nation_revenue", -1.0)
    canary_rerun = bool(both_hot)

    # the reference benchmarks search with the index built offline
    # (BASELINE.md: QPS = graph_search + rerank time only), so the
    # one-time build/load lines are reported but not in the headline sum
    total = round(sum(v for k, v in timings.items()
                      if not k.endswith("_build_or_load")), 3)
    canary = timings.get("nation_revenue", -1.0)
    print(json.dumps({
        "metric": "headline_queries_total_runtime",
        "value": total,
        "unit": "sec",
        "queries": timings,
        # per-query Spark job counts of the second timed pass — plan
        # drift (new/removed jobs) separates from box noise in
        # cross-round comparisons (VERDICT r10 directive #3)
        "job_counts": job_counts,
        "sf": sf,
        "canary_nation_revenue_sec": canary,
        "canary_first_pass_sec": canary_first,
        "canary_rerun": canary_rerun,
        "canary_idle_expectation_sec": IDLE_CANARY,
        # r16 provenance block: both raw passes, which pass supplied
        # each row's reported min, the interleaved canary samples
        # (one per CANARY_EVERY rows per pass), and the rows whose
        # pass-1/2 spans sampled hot (re-timed in the targeted pass 3)
        "queries_pass1": run1,
        "queries_pass2": run2,
        "queries_pass3": run3,
        "pass_provenance": prov,
        "canary_samples": {"pass1": can1, "pass2": can2, "pass3": can3},
        "contended_rows": {"pass1": sorted(hot1), "pass2": sorted(hot2)},
    }))
    spark.stop()


if __name__ == "__main__":
    main()
