"""Tests of the benchmark itself.

    python3 -m pytest layerbench/tests -q        # from the repo root

The oracle and interval tests take a second. The repeat test runs the
benchmark (traced and untraced) twice per workload on one seed and takes
several minutes; it checks that the counts a later change may cite
repeat exactly for a fixed seed.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import numpy as np
import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(
    os.path.abspath(__file__))))
sys.path.insert(0, ROOT)

from cross_modal_multivector_search_spark.functions import (  # noqa: E402
    metrics as M)
from layerbench.observe import _union_len  # noqa: E402
from layerbench.oracle import smooth_chamfer_all  # noqa: E402


def test_oracle_matches_engine_scorer_bit_for_bit():
    rng = np.random.default_rng(3)
    data = rng.standard_normal((500, 5, 64))
    data /= np.linalg.norm(data, axis=2, keepdims=True)
    for _ in range(5):
        q = rng.standard_normal((5, 64))
        q /= np.linalg.norm(q, axis=1, keepdims=True)
        want = M.SET_METRICS_BATCH["smooth_chamfer"](
            q, data.reshape(-1, 64), np.full(500, 5))
        assert np.array_equal(smooth_chamfer_all(q, data), want)


def test_union_len_clips_and_merges():
    assert _union_len([(0, 2), (1, 3), (5, 6)], 0, 10) == 4
    assert _union_len([(0, 2), (1, 3), (5, 6)], 1.5, 5.5) == 2
    assert _union_len([], 0, 1) == 0


def _run(workload: str, seed: int, trace: int) -> dict:
    out = subprocess.run(
        [sys.executable, "layerbench/run.py", "--workload", workload,
         "--seed", str(seed), "--seconds", "2", "--trace", str(trace)],
        cwd=ROOT, capture_output=True, text=True, timeout=300)
    assert out.returncode == 0, out.stderr[-2000:]
    result = json.loads(out.stdout.strip().splitlines()[-1])
    assert result["correct"] and result["failed"] == 0
    return {k: v["value"] for k, v in result["metrics"].items()}


REPEATS = {
    "ann_crossmodal": ("roar_core.visited_per_set",
                       "roar_core.unique_visited_ratio",
                       "graph_search.candidates_per_set",
                       "rerank.candidate_sets_per_query",
                       "graph_build.edges", "spark.jobs"),
    "exact_set_scan": ("spark.jobs",),
    "text_curate": ("dedup.lsh_pairs", "dedup.components",
                    "curation.survivors", "spark.jobs"),
}


@pytest.mark.parametrize("workload", sorted(REPEATS))
def test_counts_repeat_for_a_seed(workload):
    a, b = _run(workload, 5, 1), _run(workload, 5, 1)
    for key in REPEATS[workload]:
        assert a[key] == b[key] and a[key] > 0, key
    if workload == "ann_crossmodal":
        assert _run(workload, 5, 0)["recall_at_10"] == \
            _run(workload, 5, 0)["recall_at_10"]
