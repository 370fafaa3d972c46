"""Seeded inputs, staged once per seed to parquet under the benchmark's
own work directory, plus NumPy copies of them for the oracle.

Vectors come from the engine's own seeded generators
(``sampling.generate_clustered_vectors`` for the base,
``sampling.generate_crossmodal_queries`` for the queries). Documents are
synthesized here: a seeded corpus with the shape of the sf0.1
``documents`` test table (30-word vocabulary, 10-100 tokens, ~5% near
duplicates that append one token, a few exact copies), then scaled 10x
by the rule of ``tools/make_sf1.py`` -- copy ``i > 0`` offsets ids and
replaces every third token by an md5 token keyed by (seed, copy, token),
so no 3-shingle crosses copies.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

# Vector fixture, shared by ann_crossmodal and exact_set_scan.
DIM = 64
M = 5                     # members per set; set_id = vec_id div M
N_BASE = 5_000            # 1,000 data sets
N_CLUSTERS = 64
BASE_SIGMA = 0.15
N_TRAIN = 1_000           # train queries: ids [0, N_TRAIN)
N_POOL_SETS = 6_144       # search query sets: ids from N_TRAIN on
QUERY_SIGMA, QUERY_GAP, QUERY_MIX = 0.1, 0.8, 0.35

# Text fixture.
DOC_BASE = 600
DOC_COPIES = 10
NEAR_DUP_SHARE = 0.05
EXACT_DUP_SHARE = 0.002
VOCAB = ("spark window merge table column vector stream value data small "
         "join filter big group hash customer sort order slow line part "
         "fast row the agg key query a scan batch").split()
LANGS = (("en", 0.41), ("zh", 0.15), ("es", 0.15), ("fr", 0.15),
         ("de", 0.14))

LAYOUT_VERSION = "v5"


def data_dir(work: str, seed: int) -> str:
    return os.path.join(work, "data", f"seed{seed}-{LAYOUT_VERSION}")


def _content_hash(table: pa.Table, key: str) -> str:
    t = table.sort_by(key)
    h = hashlib.sha256()
    for name in t.column_names:
        col = t.column(name).combine_chunks()
        if pa.types.is_list(col.type):
            h.update(col.offsets.to_numpy().tobytes())
            col = col.values
        h.update(name.encode())
        if pa.types.is_string(col.type):
            for s in col.to_pylist():
                h.update(s.encode())
                h.update(b"\0")
        else:
            h.update(col.to_numpy(zero_copy_only=False).tobytes())
    return h.hexdigest()


def _stage_vectors(spark, out: str, seed: int) -> dict:
    from pyspark.sql import functions as F

    from cross_modal_multivector_search_spark.operators import sampling

    set_id = (F.col("vec_id") / M).cast("long").alias("set_id")
    base = sampling.generate_clustered_vectors(
        spark, N_BASE, DIM, N_CLUSTERS, sigma=BASE_SIGMA, seed=seed)
    base.select(set_id, "vec_id", "vec").write.parquet(f"{out}/base")
    q = sampling.generate_crossmodal_queries(
        spark, N_TRAIN + M * N_POOL_SETS, DIM, N_CLUSTERS,
        sigma=QUERY_SIGMA, gap=QUERY_GAP, mix=QUERY_MIX, seed=seed)
    q.filter(F.col("vec_id") < N_TRAIN).select("vec_id", "vec") \
        .write.parquet(f"{out}/train_queries")
    q.filter(F.col("vec_id") >= N_TRAIN).select(set_id, "vec_id", "vec") \
        .write.parquet(f"{out}/query_sets")
    return {"base": "vec_id", "train_queries": "vec_id",
            "query_sets": "vec_id"}


def _base_docs(rng: np.random.Generator) -> pd.DataFrame:
    n = DOC_BASE
    texts = [" ".join(rng.choice(VOCAB, size=int(rng.integers(10, 101))))
             for _ in range(n)]
    # near duplicates append one token to an earlier doc; exact copies
    # repeat one verbatim -- both point at a lower id
    n_near = int(n * NEAR_DUP_SHARE)
    n_exact = max(1, int(n * EXACT_DUP_SHARE))
    targets = rng.choice(np.arange(n // 2, n), size=n_near + n_exact,
                         replace=False)
    for j, t in enumerate(targets):
        src = texts[int(rng.integers(0, n // 2))]
        texts[t] = src + " dup" if j < n_near else src
    names, probs = zip(*LANGS)
    return pd.DataFrame({
        "doc_id": np.arange(n, dtype=np.int64),
        "text": texts,
        "lang": rng.choice(names, size=n, p=probs),
        "source": [f"src{i % 10}" for i in range(n)],
    })


def _subst_tokens(text: str, seed: int, copy: int) -> str:
    toks = text.split(" ")
    for j in range(2, len(toks), 3):
        h = hashlib.md5(f"{seed}:{copy}:{toks[j]}".encode()).hexdigest()[:6]
        toks[j] = f"x{h}"
    return " ".join(toks)


def make_documents(seed: int) -> pd.DataFrame:
    base = _base_docs(np.random.default_rng([seed, 77]))
    copies = []
    for i in range(DOC_COPIES):
        c = base.copy()
        c["doc_id"] = c["doc_id"] + i * DOC_BASE
        if i > 0:
            c["text"] = [_subst_tokens(t, seed, i) for t in c["text"]]
        copies.append(c)
    out = pd.concat(copies, ignore_index=True)
    out["n_chars"] = out["text"].str.len().astype(np.int64)
    return out


def _stage_documents(spark, out: str, seed: int) -> dict:
    from .oracle import curate_survivors

    os.makedirs(f"{out}/documents")
    pq.write_table(pa.Table.from_pandas(make_documents(seed),
                                        preserve_index=False),
                   f"{out}/documents/part-0.parquet")
    curate_survivors(f"{out}/documents")      # cache the oracle's answer
    return {"documents": "doc_id"}


STAGERS = {"vectors": _stage_vectors, "documents": _stage_documents}


def manifest_path(work: str, seed: int, kind: str) -> str:
    return os.path.join(data_dir(work, seed), kind, "manifest.json")


def stage(work: str, seed: int, kind: str) -> None:
    """Stage the ``kind`` inputs ("vectors" or "documents") for ``seed``:
    parquet tables plus a manifest with each table's path, row count and
    content hash. A completed stage is marked by its manifest, written
    last. Vectors need a Spark session of their own; the caller runs
    this in a separate process so staging leaves no trace in the
    measured one."""
    out = os.path.join(data_dir(work, seed), kind)
    manifest_file = manifest_path(work, seed, kind)
    if os.path.exists(out):
        shutil.rmtree(out)
    os.makedirs(out)
    spark = None
    if kind == "vectors":
        from cross_modal_multivector_search_spark.session import get_spark
        spark = get_spark("layerbench-stage")
        spark.sparkContext.setLogLevel("ERROR")
    try:
        keys = STAGERS[kind](spark, out, seed)
    finally:
        if spark is not None:
            from .observe import stop_spark
            stop_spark(spark)
    tables = {}
    for name, key in keys.items():
        t = pq.read_table(f"{out}/{name}")
        tables[name] = {"path": f"{out}/{name}", "rows": t.num_rows,
                        "sha256": _content_hash(t, key)}
    manifest = {"seed": seed, "layout": LAYOUT_VERSION, "tables": tables}
    with open(manifest_file + ".tmp", "w") as f:
        json.dump(manifest, f, indent=1)
    os.replace(manifest_file + ".tmp", manifest_file)


def load_sets(path: str) -> tuple[np.ndarray, np.ndarray]:
    """(set_ids, (n_sets, M, DIM) float64) in (set_id, vec_id) order --
    the member order the engine's grouped fetch uses."""
    t = pq.read_table(path, columns=["set_id", "vec_id", "vec"]) \
        .sort_by([("set_id", "ascending"), ("vec_id", "ascending")])
    sids = t.column("set_id").to_numpy()
    if len(sids) % M or (sids.reshape(-1, M) != sids[::M, None]).any():
        raise ValueError(f"{path}: every set must have {M} members")
    vecs = t.column("vec").combine_chunks().values.to_numpy() \
        .astype(np.float64).reshape(-1, M, DIM)
    return sids[::M].copy(), vecs


if __name__ == "__main__":
    import argparse

    ap = argparse.ArgumentParser()
    ap.add_argument("--work", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--kind", choices=sorted(STAGERS), required=True)
    a = ap.parse_args()
    stage(a.work, a.seed, a.kind)
