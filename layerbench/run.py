"""Layer-resolved closed-loop benchmark of the engine on ``local[nproc]``.

    python3 layerbench/run.py --workload ann_crossmodal --seed 1 \
        --seconds 8 --trace 0

One client sends the next request only after the previous one returned.
Inputs are generated from ``--seed`` and staged once per seed to parquet
under ``layerbench/.work``; every output is checked against the
benchmark's own oracle. The last stdout line is the result
``{"correct", "attempted", "failed", "metrics"}``: end-to-end metrics
with ``--trace 0``, per-layer metrics with ``--trace 1``. The line before
it is a report with host state, fixture hashes, sample counts and the
metrics under the names of each workload's own units.

A traced run alternates untraced and traced requests for ``--seconds``
in all, so layer self times, their coverage of the untraced request
time, and the tracing overhead come from one run under the same warm-up
state. Spans are kept in memory and written to
``layerbench/.work/traces`` at the end.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time
import traceback
from dataclasses import dataclass

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")

# Which end-to-end metric each layer metric should move, and where.
LAYER_MOVES = {
    "brute_force.train_knn_s": ("setup_s", "ann_crossmodal"),
    "graph_build.build_s": ("setup_s", "ann_crossmodal"),
    "graph_build.nodes_per_s": ("setup_s", "ann_crossmodal"),
    "graph_build.edges": ("setup_s", "ann_crossmodal"),
    "graph_search.search_s": ("items_per_s", "ann_crossmodal"),
    "graph_search.candidates_per_set": ("items_per_s", "ann_crossmodal"),
    "roar_core.kernel_ms_per_set": ("items_per_s", "ann_crossmodal"),
    "roar_core.visited_per_set": ("items_per_s", "ann_crossmodal"),
    "roar_core.unique_visited_ratio": ("items_per_s", "ann_crossmodal"),
    "rerank.rerank_s": ("items_per_s", "ann_crossmodal"),
    "rerank.candidate_sets_per_query": ("items_per_s", "ann_crossmodal"),
    "rerank.rerank_fraction": ("items_per_s", "ann_crossmodal"),
    "set_search.fetch_s": ("items_per_s", "exact_set_scan, and a probe "
                           "on ann_crossmodal"),
    "set_search.topk_gemm_s": ("items_per_s", "exact_set_scan, and a probe "
                               "on ann_crossmodal"),
    "metrics.set_pairs_per_s": ("items_per_s",
                                "exact_set_scan, ann_crossmodal"),
    "dedup.lsh_pairs_s": ("items_per_s", "text_curate"),
    "dedup.lsh_pairs": ("items_per_s", "text_curate"),
    "dedup.connected_components_s": ("items_per_s", "text_curate"),
    "dedup.components": ("items_per_s", "text_curate"),
    "text.lang_quality_s": ("items_per_s", "text_curate"),
    "curation.curate_corpus_s": ("items_per_s", "text_curate"),
    "curation.survivors": ("items_per_s", "text_curate"),
    "spark.*": ("request_p50_s", "every workload; items_per_s on "
                "ann_crossmodal through the rerank gather"),
}

END_TO_END = {"setup_s": "s", "request_p50_s": "s", "items_per_s": "1/s",
              "recall_at_10": "ratio", "peak_rss_mb": "MB"}

# span name -> per-layer time metric (self time, median over requests)
SPAN_TIMES = {
    "brute_force.train_knn": "brute_force.train_knn_s",
    "graph_build.build": "graph_build.build_s",
    "graph_search.search": "graph_search.search_s",
    "rerank.rerank": "rerank.rerank_s",
    "set_search.fetch": "set_search.fetch_s",
    "set_search.topk_gemm": "set_search.topk_gemm_s",
    "dedup.lsh_pairs": "dedup.lsh_pairs_s",
    "dedup.connected_components": "dedup.connected_components_s",
    "text.lang_quality": "text.lang_quality_s",
    "curation.curate_corpus": "curation.curate_corpus_s",
}
PER_LAYER_UNITS = {
    **{m: "s" for m in SPAN_TIMES.values()},
    "graph_build.nodes_per_s": "1/s", "graph_build.edges": "count",
    "graph_search.candidates_per_set": "count",
    "roar_core.kernel_ms_per_set": "ms",
    "roar_core.visited_per_set": "count",
    "roar_core.unique_visited_ratio": "ratio",
    "rerank.candidate_sets_per_query": "count",
    "rerank.rerank_fraction": "ratio",
    "metrics.set_pairs_per_s": "1/s",
    "dedup.lsh_pairs": "count", "dedup.components": "count",
    "curation.survivors": "count",
    "spark.jobs": "count", "spark.stages": "count", "spark.tasks": "count",
    "spark.shuffle_read_bytes": "bytes",
    "spark.shuffle_write_bytes": "bytes",
    "spark.task_run_s": "s", "spark.gc_s": "s",
    "spark.slot_utilization": "ratio", "spark.no_stage_s": "s",
    "trace.coverage": "ratio", "trace.overhead_ratio": "ratio",
}
MIN_REQUESTS = 3          # per loop; recall is taken over the first ones


def _median(xs):
    return float(statistics.median(xs)) if xs else 0.0


def _configure_env(cpus: int) -> None:
    """Host-sized Spark, every file the run writes inside WORK, and the
    package importable by the Python workers."""
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    os.environ["SPARK_DRIVER_MEMORY"] = "1g"
    # one BLAS thread per process: Spark runs one Python worker per core,
    # and the in-process kernel probes are single-thread by definition
    for var in ("OPENBLAS_NUM_THREADS", "OMP_NUM_THREADS",
                "MKL_NUM_THREADS"):
        os.environ[var] = "1"
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "spark-local")
    os.environ["TMPDIR"] = tmp
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    os.environ["SPARK_GRAFT_EXTRA_CONF"] = ";".join([
        f"spark.driver.extraJavaOptions=-Djava.io.tmpdir={tmp}",
        f"spark.sql.warehouse.dir={os.path.join(WORK, 'warehouse')}",
        "spark.ui.retainedStages=100000",
        "spark.ui.showConsoleProgress=false",
    ])
    import tempfile
    tempfile.tempdir = tmp


def _staged(seed: int, kind: str) -> dict:
    """The manifest of the ``kind`` inputs for ``seed``, staged first by
    a child process when missing."""
    from . import fixtures

    path = fixtures.manifest_path(WORK, seed, kind)
    if not os.path.exists(path):
        subprocess.run([sys.executable, "-m", "layerbench.fixtures",
                        "--work", WORK, "--seed", str(seed),
                        "--kind", kind], cwd=ROOT, check=True, timeout=120)
    with open(path) as f:
        return json.load(f)


@dataclass
class Done:
    """One request that returned and passed its output check."""
    req: int
    seconds: float
    items: int
    out: object
    counters: dict
    root: object          # its root span (traced runs), else None


class Runner:
    """Closed-loop client: the next request starts once the previous
    one has returned and been checked. Raised or failed requests count
    in ``failed``."""

    def __init__(self, wl, tracer):
        self.wl, self.tracer = wl, tracer
        self.attempted = self.failed = 0
        self.errors: list[str] = []
        self.metrics: dict = {}

    def fail(self, req: int, errs: list[str]) -> None:
        self.failed += 1
        self.errors.extend(f"request {req}: {e}" for e in errs[:3])

    def setups(self, tracer) -> tuple[list[float], object]:
        times, state = [], None
        for rep in range(self.wl.setup_reps):
            with tracer.span("setup", request_id=-1 - rep):
                t0 = time.perf_counter()
                state = self.wl.setup(tracer)
                times.append(time.perf_counter() - t0)
        return times, state

    def one(self, state, req: int) -> Done | None:
        self.attempted += 1
        try:
            with self.tracer.request(req) as root:
                t0 = time.perf_counter()
                items, out, counters = self.wl.request(state, req,
                                                       self.tracer)
                dt = time.perf_counter() - t0
        except Exception:  # noqa: BLE001 -- a failed request is counted
            self.fail(req, [traceback.format_exc(limit=4)])
            return None
        errs = self.wl.check(req, out)
        if errs:
            self.fail(req, errs)
            return None
        return Done(req, dt, items, out, counters, root)

    def loop(self, state, first: int, last: int, seconds: float,
             after=None) -> list:
        """Requests first, first+1, ... until ``seconds`` of request time
        and at least MIN_REQUESTS requests, or the pool ends at ``last``.
        ``after(done)`` runs untimed between requests."""
        done, busy, req = [], 0.0, first
        while req < last and (busy < seconds or len(done) < MIN_REQUESTS):
            d = self.one(state, req)
            if d is not None:
                done.append(d)
                busy += d.seconds
                if after is not None:
                    after(d)
            req += 1
        if busy < seconds:
            print(f"warning: query pool ended after {busy:.1f}s of "
                  "requests", file=sys.stderr)
        return done

    def paired_loop(self, state, first: int, mid: int, seconds: float,
                    traced, after) -> tuple[list, list]:
        """Traced runs: untraced requests (from ``first``) and traced
        ones (from ``mid``, so the first traced request is fixed for a
        seed) alternate, so both halves see the same warm-up state.
        ``after(done)`` runs untimed after each traced request."""
        plain, done, tdone, busy = self.tracer, [], [], 0.0
        u, t = first, mid
        while u < mid and t < self.wl.max_requests() and (
                busy < seconds or min(len(done), len(tdone)) < MIN_REQUESTS):
            for req, tracer, into in ((u, plain, done), (t, traced, tdone)):
                self.tracer = tracer
                d = self.one(state, req)
                if d is not None:
                    into.append(d)
                    busy += d.seconds
                    if tracer is traced:
                        after(d)
            self.tracer = plain
            u, t = u + 1, t + 1
        return done, tdone


def run(args) -> int:
    from . import observe
    host = observe.HostProbe()
    _configure_env(host.cpus)
    try:
        from cross_modal_multivector_search_spark.session import get_spark
    except ImportError as e:
        print(f"error: the engine package is not importable: {e}",
              file=sys.stderr)
        return 2
    from . import workloads

    if args.workload not in workloads.WORKLOADS:
        print(f"error: unknown workload {args.workload!r}", file=sys.stderr)
        return 2
    report: dict = {"workload": args.workload, "seed": args.seed,
                    "seconds": args.seconds, "trace": args.trace}
    wl_cls = workloads.WORKLOADS[args.workload]
    t0 = time.perf_counter()
    manifest = _staged(args.seed, wl_cls.inputs)
    report["stage_s"] = time.perf_counter() - t0
    report["fixture"] = manifest["tables"]
    with observe.RssSampler() as rss:
        t0 = time.perf_counter()
        spark = get_spark("layerbench")
        report["session_start_s"] = time.perf_counter() - t0
        try:
            spark.sparkContext.setLogLevel("ERROR")
            wl = wl_cls(spark, manifest)
            runner = _measure(spark, wl, args, report)
            report["host"] = host.finish()
        finally:
            observe.stop_spark(spark)
    if report["host"]["contended"]:
        print("warning: contended run (busy host or CPU steal): "
              f"{report['host']}", file=sys.stderr)
    report["peak_rss_mb"] = rss.peak_mb
    report.update(attempted=runner.attempted, failed=runner.failed,
                  error_rate=runner.failed / runner.attempted,
                  errors=runner.errors[:10])
    for e in runner.errors[:10]:
        print(f"check failed: {e}", file=sys.stderr)
    if args.trace:
        units = PER_LAYER_UNITS
    else:
        units = END_TO_END
        runner.metrics["peak_rss_mb"] = rss.peak_mb
    print(json.dumps({"report": report}))
    print(json.dumps({
        "correct": runner.failed == 0, "attempted": runner.attempted,
        "failed": runner.failed,
        "metrics": {k: {"value": float(v), "unit": units[k]}
                    for k, v in runner.metrics.items()}}))
    return 0 if runner.failed == 0 else 1


def _measure(spark, wl, args, report) -> Runner:
    """Set-up, warm-up and the closed loop(s); fills ``report`` and
    ``runner.metrics``."""
    from .observe import SparkCounters, Tracer

    sc = spark.sparkContext
    plain = Tracer(sc, False, f"{wl.name}-u")
    traced = Tracer(sc, True, f"{wl.name}-t")
    t0 = time.perf_counter()
    wl.prepare_oracle()
    report["oracle_s"] = time.perf_counter() - t0
    runner = Runner(wl, plain)
    setup_times, state = runner.setups(traced if args.trace else plain)
    # warm-up: the request path speeds up over its first requests (plan
    # analysis, code generation, JIT); these run untimed but checked
    for req in range(wl.warmup):
        runner.one(state, req)
    req = wl.warmup
    probes = []

    def probe(d: Done) -> None:
        p = wl.probes(state, d.req, d.counters, traced)
        if p.errors:
            runner.fail(d.req, p.errors)
        probes.append(p)

    if args.trace:
        done, tdone = runner.paired_loop(state, req, wl.max_requests() // 2,
                                         args.seconds, traced, probe)
    else:
        done = runner.loop(state, req, wl.max_requests(), args.seconds)
    busy = sum(d.seconds for d in done)
    items_per_s = sum(d.items for d in done) / busy
    p50 = _median([d.seconds for d in done])
    recall = wl.recall(done[:MIN_REQUESTS])
    report.update({
        "setup_samples_s": setup_times,
        "warmup_requests": wl.warmup,
        "requests": len(done),
        "request_samples_s": [d.seconds for d in done],
        "request_p50_s": p50,
        "items_per_request": wl.batch,
        ("docs_per_s" if wl.item == "documents" else "query_sets_per_s"):
            items_per_s,
        "recall_at_10": recall,
    })
    if not args.trace:
        runner.metrics = {
            "setup_s": _median(setup_times), "request_p50_s": p50,
            "items_per_s": items_per_s, "recall_at_10": recall}
        return runner

    counters = SparkCounters(sc)
    counters.refresh()
    runner.metrics = _layer_metrics(wl, state, traced, tdone, probes, p50,
                                    counters, report)
    traced.dump(os.path.join(WORK, "traces",
                             f"{wl.name}-seed{args.seed}.json"),
                {"workload": wl.name, "seed": args.seed})
    return runner


def _layer_metrics(wl, state, tracer, tdone, probes, untraced_p50,
                   counters, report) -> dict:
    """Every per-layer metric; layers the workload does not run read 0."""
    m = {k: 0.0 for k in PER_LAYER_UNITS}
    roots = [d.root for d in tdone]
    cores = wl.spark.sparkContext.defaultParallelism
    # a layer's time: its spans' self time summed per request (or set-up
    # repetition), median over those
    per_layer: dict[str, dict] = {}
    for sp in tracer.spans:
        if sp.name not in ("request", "setup"):
            per = per_layer.setdefault(sp.name, {})
            per[sp.request] = per.get(sp.request, 0.0) + sp.self_time
    layer_self = {n: _median(list(v.values())) for n, v in per_layer.items()}
    for name, metric in SPAN_TIMES.items():
        m[metric] = layer_self.get(name, 0.0)
    if "edges" in state:
        m["graph_build.edges"] = state["edges"]
        m["graph_build.nodes_per_s"] = (
            report["fixture"]["base"]["rows"] / m["graph_build.build_s"])
    if m["rerank.rerank_s"]:
        m["rerank.rerank_fraction"] = m["rerank.rerank_s"] / (
            m["graph_search.search_s"] + m["rerank.rerank_s"])
    if probes:
        m.update(probes[0].counts)
        for key in probes[0].rates:
            m[key] = _median([p.rates[key] for p in probes])
    per_req = [counters.for_groups([r.group] + [c.group for c in r.children],
                                   r.wall_start, r.wall_end, cores)
               for r in roots]
    for key in (per_req[0] if per_req else {}):
        m[key] = _median([p[key] for p in per_req])
    layer_sums = [sum(c.self_time for c in r.children) for r in roots]
    m["trace.coverage"] = _median(layer_sums) / untraced_p50
    m["trace.overhead_ratio"] = (_median([r.duration for r in roots])
                                 / untraced_p50)
    report.update({
        "traced_requests": len(roots),
        "layer_self_s": layer_self,
        "spark_per_span": {
            c.name: counters.for_groups([c.group], c.wall_start,
                                        c.wall_end, cores)
            for c in (roots[0].children if roots else [])},
        "layer_moves": LAYER_MOVES,
    })
    return m


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=8.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return run(ap.parse_args(argv))


if __name__ == "__main__":
    sys.path.insert(0, ROOT)
    from layerbench.run import main as _main
    sys.exit(_main())
