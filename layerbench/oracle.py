"""The benchmark's own ground truth.

Smooth-Chamfer here is vectorized over every data set at once (fixed
set cardinality), written independently of the engine's per-set loop in
``functions.metrics.smooth_chamfer_batch``: one GEMM, then the two
log-sum-exp reductions as whole-array operations. With the engine's
constants (temperature 16, text scale 1, denominator 2) it reproduces
the engine's scores bit for bit; checks still allow 1e-9.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

TEMPERATURE = 16.0
TXT_SCALE = 1.0
DENOMINATOR = 2.0
SCORE_TOL = 1e-9


def smooth_chamfer_all(query: np.ndarray, data: np.ndarray) -> np.ndarray:
    """Scores of one query set (m, d) against every data set (S, n, d)."""
    n_sets, n, d = data.shape
    m = query.shape[0]
    sims = (query @ data.reshape(-1, d).T).reshape(m, n_sets, n)
    ts = TEMPERATURE * TXT_SCALE
    t1 = ts * sims
    rmax = t1.max(axis=2)
    row = np.log(np.exp(t1 - rmax[:, :, None]).sum(axis=2)) + rmax
    term1 = row.sum(axis=0) / (m * ts)
    t2 = TEMPERATURE * sims
    cmax = t2.max(axis=0)
    col = np.log(np.exp(t2 - cmax[None]).sum(axis=0)) + cmax
    term2 = col.sum(axis=1) / (m * TEMPERATURE)
    return (term1 + term2) / DENOMINATOR


def exact_topk(scores: np.ndarray, data_ids: np.ndarray, k: int):
    """Top-k (ids, scores) by descending score, ties by ascending id."""
    order = np.lexsort((data_ids, -scores))[:k]
    return data_ids[order], scores[order]


class VectorOracle:
    """Exact scores and top-k for query sets drawn from the staged pool."""

    def __init__(self, data_ids, data, query_ids, queries, k: int):
        self.data_ids, self.data, self.k = data_ids, data, k
        self.q_index = {int(s): i for i, s in enumerate(query_ids)}
        self.queries = queries
        self._cache: dict[int, np.ndarray] = {}

    def query(self, set_id: int) -> np.ndarray:
        return self.queries[self.q_index[set_id]]

    def scores(self, set_id: int) -> np.ndarray:
        s = self._cache.get(set_id)
        if s is None:
            s = self._cache[set_id] = smooth_chamfer_all(
                self.query(set_id), self.data)
        return s

    def check_exact(self, out: pd.DataFrame, set_ids) -> list[str]:
        """Exact scan: per query set, top-k ids equal the oracle's
        (ties by id) and scores agree within SCORE_TOL."""
        errs = []
        groups = {int(q): g.sort_values("rank")
                  for q, g in out.groupby("query_set_id")}
        for q in set_ids:
            want_ids, want_s = exact_topk(self.scores(q), self.data_ids,
                                          self.k)
            g = groups.get(q)
            if g is None or not np.array_equal(
                    g["data_set_id"].to_numpy(), want_ids):
                errs.append(f"query set {q}: top-{self.k} ids differ")
            elif np.abs(g["score"].to_numpy() - want_s).max() > SCORE_TOL:
                errs.append(f"query set {q}: scores differ")
        return errs

    def check_rerank(self, out: pd.DataFrame, set_ids) -> list[str]:
        """ANN + rerank: every returned (query set, data set) score equals
        the exact score, at most k rows per query set, every query set
        answered."""
        errs = []
        pos = {int(s): i for i, s in enumerate(self.data_ids)}
        seen = set()
        for q, g in out.groupby("query_set_id"):
            q = int(q)
            seen.add(q)
            if len(g) > self.k:
                errs.append(f"query set {q}: {len(g)} rows > k")
            want = self.scores(q)[[pos[int(d)] for d in g["data_set_id"]]]
            if np.abs(g["score"].to_numpy() - want).max() > SCORE_TOL:
                errs.append(f"query set {q}: rerank scores differ")
        missing = set(int(q) for q in set_ids) - seen
        if missing:
            errs.append(f"{len(missing)} query sets unanswered")
        return errs

    def recall(self, out: pd.DataFrame, set_ids) -> float:
        """Mean set-level recall@k against the exact top-k."""
        got = {int(q): set(g["data_set_id"].astype(int))
               for q, g in out.groupby("query_set_id")}
        vals = []
        for q in set_ids:
            want = set(int(x) for x in exact_topk(
                self.scores(q), self.data_ids, self.k)[0])
            vals.append(len(want & got.get(q, set())) / len(want))
        return float(np.mean(vals))


def curate_survivors(docs_path: str) -> pd.DataFrame:
    """The engine's own DuckDB twin of ``corpus_curate``, run on the
    staged documents: (doc_id, pred_lang, quality_score, n_tokens).

    The answer is kept next to the documents, keyed by the SQL text, so
    runs after the first on a seed skip the ~8 s DuckDB query."""
    import hashlib
    import os

    import duckdb

    import __spark_entry__ as entry

    sql = entry.oracle_sql()["corpus_curate"]
    key = hashlib.sha256(sql.encode()).hexdigest()[:16]
    cached = os.path.join(os.path.dirname(docs_path),
                          f"curate_oracle-{key}.parquet")
    if os.path.exists(cached):
        return pd.read_parquet(cached)
    con = duckdb.connect()
    try:
        con.execute("CREATE VIEW documents AS SELECT * FROM "
                    f"read_parquet('{docs_path}/*.parquet')")
        want = con.execute(sql).df()
    finally:
        con.close()
    want.to_parquet(cached + ".tmp")
    os.replace(cached + ".tmp", cached)
    return want


def check_survivors(got: pd.DataFrame, want: pd.DataFrame) -> list[str]:
    cols = ["doc_id", "pred_lang", "quality_score", "n_tokens"]
    a = got[cols].sort_values("doc_id").reset_index(drop=True)
    b = want[cols].sort_values("doc_id").reset_index(drop=True)
    if len(a) != len(b) or not np.array_equal(a["doc_id"], b["doc_id"]):
        return [f"survivors differ: {len(a)} vs oracle {len(b)}"]
    if not (np.array_equal(a["pred_lang"], b["pred_lang"])
            and np.array_equal(a["n_tokens"].astype(np.int64),
                               b["n_tokens"].astype(np.int64))
            and np.allclose(a["quality_score"], b["quality_score"],
                            rtol=0, atol=1e-9)):
        return ["survivor features differ from the oracle"]
    return []
