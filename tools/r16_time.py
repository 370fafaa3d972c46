"""Per-row warm timing for ALL bench rows (incl. the two bench-local
wrappers): 1 warm pass + N timed reps, min/median per row.

Usage: python tools/r16_time.py [sf_dir] [reps] row1 row2 ...
       (no names = the full bench timed set)

The r16 working protocol for this box's bursty noise (min-of-5 in one
process; see OPTIMIZATION_r15.md methodology).
"""
from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as E
from cross_modal_multivector_search_spark.session import get_spark


def timed_rows():
    """The bench timed set, wrapper rows included (same defs as bench.py)."""
    import bench
    from cross_modal_multivector_search_spark.operators import hnsw as _h
    from cross_modal_multivector_search_spark.operators import (
        graph_search as _gs,
    )

    qs = E.queries()

    def hnsw_b400(spark, sf_dir):
        index = E._hnsw_index(spark, sf_dir)
        q, v = E._queries_norm(spark, sf_dir)
        return _h.search_and_rerank_hnsw(index, q, v, E.K, budget=400,
                                         m=E.M,
                                         q_sets=E._qsets("fixed", sf_dir, q))

    def ann_window_b1600(spark, sf_dir):
        index = E._roar_index(spark, sf_dir)
        q, v = E._queries_norm(spark, sf_dir)
        return _gs.search_and_rerank(
            index, q, v, E.K,
            _gs.SearchParams(min_pq=5, max_pq=1600, budget=1600), m=E.M)

    timed = {name: qs[name] for name in bench.HEADLINE}
    timed["hnsw_search_b400"] = E._shipped(hnsw_b400, "hnsw_search_b400")
    timed["ann_window_search_b1600"] = E._shipped(
        ann_window_b1600, "ann_window_search_b1600")
    return timed


def main() -> None:
    args = sys.argv[1:]
    sf_dir = args[0] if args and os.path.isdir(args[0]) else \
        os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    if args and os.path.isdir(args[0]):
        args = args[1:]
    reps = int(args[0]) if args and args[0].isdigit() else 5
    if args and args[0].isdigit():
        args = args[1:]
    spark = get_spark("cmms-r16-time")
    spark.sparkContext.setLogLevel("ERROR")
    timed = timed_rows()
    names = args or list(timed)
    E.queries()["token_stats"](spark, sf_dir).count()   # py-worker warmup
    # indexes build/load outside any timed row (bench does the same)
    E._roar_index(spark, sf_dir)
    E._sharded_work(spark, sf_dir)
    E._hnsw_index(spark, sf_dir)
    for name in names:
        fn = timed[name]
        fn(spark, sf_dir).count()        # plan/codegen warmup
        ts = []
        for _ in range(reps):
            t0 = time.time()
            fn(spark, sf_dir).count()
            ts.append(round(time.time() - t0, 3))
        srt = sorted(ts)
        print(json.dumps({"row": name, "reps": ts,
                          "min": srt[0], "median": srt[len(srt) // 2]}),
              flush=True)
    spark.stop()


if __name__ == "__main__":
    main()
