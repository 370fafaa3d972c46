"""Dump .explain("formatted") for bench/oracle queries to files.

Usage: python tools/r15_explain.py <out_dir> <suffix> q1 q2 ...
Writes <out_dir>/<query>_<suffix>.txt for each query. Includes the two
bench-local wrapper rows under their bench names.
"""
from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as E
from cross_modal_multivector_search_spark.session import get_spark


def main() -> None:
    out_dir, suffix = sys.argv[1], sys.argv[2]
    names = sys.argv[3:]
    os.makedirs(out_dir, exist_ok=True)
    spark = get_spark("cmms-r15-explain")
    spark.sparkContext.setLogLevel("ERROR")
    sf = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    qs = E.queries()

    from cross_modal_multivector_search_spark.operators import hnsw as _h
    from cross_modal_multivector_search_spark.operators import (
        graph_search as _gs,
    )

    def hnsw_b400(spark, sf_dir):
        index = E._hnsw_index(spark, sf_dir)
        q, v = E._queries_norm(spark, sf_dir)
        kw = {}
        if "q_sets" in _h.search_and_rerank_hnsw.__code__.co_varnames:
            kw["q_sets"] = E._qsets("fixed", sf_dir, q)
        return _h.search_and_rerank_hnsw(index, q, v, E.K, budget=400,
                                         m=E.M, **kw)

    def ann_window_b1600(spark, sf_dir):
        index = E._roar_index(spark, sf_dir)
        q, v = E._queries_norm(spark, sf_dir)
        return _gs.search_and_rerank(
            index, q, v, E.K,
            _gs.SearchParams(min_pq=5, max_pq=1600, budget=1600), m=E.M)

    extra = {"hnsw_search_b400": hnsw_b400,
             "ann_window_search_b1600": ann_window_b1600}
    mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode \
        .fromString("formatted")
    for name in names:
        fn = extra.get(name) or qs[name]
        df = fn(spark, sf)
        txt = df._jdf.queryExecution().explainString(mode)
        path = os.path.join(out_dir, f"{name}_{suffix}.txt")
        with open(path, "w") as f:
            f.write(txt)
        print(f"wrote {path} ({len(txt)} bytes)", flush=True)
    spark.stop()


if __name__ == "__main__":
    main()
