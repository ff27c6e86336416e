"""Benchmark entry point.

    python3 perfbench/run.py --workload agent_session --seed 1 --seconds 12 --trace 0

Run from the repository root. One process, one closed-loop client
thread, ``local[<cpus>]``. Order of a run:

1. delete everything the benchmark owns (``cleanup.reset``);
2. generate the workload's inputs from ``--seed``;
3. set up cold: engine imports, JVM launch, data load, index builds;
   ``setup_s`` is the time from process start to the end of set-up,
   less the input generation of step 2;
4. run the workload's ``warmup_cycles`` untimed, then time cycles for
   ``--seconds``; with ``--trace 1``, traced and untraced cycles
   alternate in blocks;
5. check every output of the window against the oracles;
6. stop Spark and the JVM, delete everything the benchmark owns, and
   print the result as the last line of standard output.

``--trace 0`` prints the end-to-end metrics, ``--trace 1`` the per-layer
ones (README.md lists both).
"""

from __future__ import annotations

import argparse
import importlib
import json
import os
import sys
import time
import traceback
from contextlib import contextmanager

sys.dont_write_bytecode = True
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import cleanup  # noqa: E402
import harness  # noqa: E402
import stats  # noqa: E402
from spans import Tracer, job_totals  # noqa: E402

WARMUP_CAP_S = 60.0  # bounds a run's length on a very slow host
# name -> (module, class). A workload class takes the seed and provides
# op_names, warmup_cycles, trace_block, results, and the methods
# wrap, index_dirs, setup, cycle, check, layer_metrics and span_metrics.
WORKLOADS = {
    "agent_session": ("agent", "AgentSession"),
    "warehouse_mix": ("warehouse", "WarehouseMix"),
}
END_TO_END = {
    "setup_s": "s",
    "cycle_s": "s",
    "retained_heap_mb": "MB",
}
SPARK_KEYS = ("spark.jobs", "spark.stages", "spark.tasks", "spark.job_s",
              "spark.executor_cpu_s", "spark.shuffle_write_mb", "spark.spill_mb")
PER_LAYER = {
    **{k: ("s" if k.endswith("_s") else "MB" if k.endswith("_mb") else "count") for k in SPARK_KEYS},
    "driver.outside_jobs_s": "s",
    "jvm.gc_s": "s",
    "jvm.cpu_s": "s",
    "py.cpu_s": "s",
    "peak_rss_mb": "MB",
    "jvm.heap_peak_mb": "MB",
    "session.start_s": "s",
    "sources.load_s": "s",
    "similarity.retrieve_s": "s",
    "similarity.retrieve_jobs": "count",
    "sql_gate.safe_sql_s": "s",
    "sql_gate.preview_s": "s",
    "materialize.s": "s",
    "materialize.jobs": "count",
    "materialize.cached_mb_end": "MB",
    "charts.bar_s": "s",
    "charts.line_s": "s",
    "charts.pie_s": "s",
    "charts.hist_s": "s",
    "charts.jobs": "count",
    "registry.build_s.gated": "s",
    "registry.build_s.stateless": "s",
    "registry.build_jobs": "count",
    "exec.collect_s": "s",
    "exec.collect_jobs": "count",
    "lexindex.build_s": "s",
    "bloom.build_s": "s",
    "trgm.build_s": "s",
    "lexindex.bm25_s": "s",
    "bloom.new_rows_s": "s",
    "trgm.search_s": "s",
    "index.files": "count",
    "index.bytes": "bytes",
    "tmp.leaked_dirs": "count",
    "op.tail_s": "s",
    "op.tail_pct": "%",
    "op.count": "count",
    "warmup.slowdown": "ratio",
    "window.drift": "ratio",
    "trace.overhead_s": "s",
    "op.p50_s": "s",
}


class Recorder:
    """Times the ops of the current cycle; each op is also a span."""

    def __init__(self, tracer: Tracer, timed_ops: tuple[str, ...]) -> None:
        self.tracer, self.timed_ops = tracer, timed_ops
        self.ops: list[tuple[int, str, float]] = []  # (cycle, name, seconds)
        self.cycle = 0

    @contextmanager
    def op(self, name: str):
        t0 = time.perf_counter()
        with self.tracer.span(name):
            yield
        self.ops.append((self.cycle, name, time.perf_counter() - t0))

    def timed(self) -> list[float]:
        return [d for _, n, d in self.ops if n in self.timed_ops]


def workload_module(name: str):
    return importlib.import_module(WORKLOADS[name][0])


def run(workload: str, seed: int, seconds: float, trace: bool, spans_path: str | None = None) -> dict:
    root = os.getcwd()
    if not (os.path.isfile(os.path.join(root, "__spark_entry__.py"))
            and os.path.isdir(os.path.join(root, "data_pengadaan_agent_spark"))):
        raise SystemExit("run from the repository root: engine sources not found")
    sys.path.insert(0, root)
    warehouse_dir = os.path.join(root, "spark-warehouse")
    had_warehouse = os.path.isdir(warehouse_dir)
    cleanup.reset(root)
    harness.pin_env()
    sess = harness.Session()
    tracer = Tracer()
    try:
        out = measure(workload, seed, seconds, trace, sess, tracer)
        if spans_path:
            tracer.dump(spans_path)
        sess.close()
        out["layer"]["tmp.leaked_dirs"] = float(sum(
            len(os.listdir(os.path.join(cleanup.WORK_DIR, d))) for d in ("tmp", "spark-local")
        ))
        return out
    finally:
        sess.close()
        tracer.unwrap_all()
        cleanup.reset(root)
        if not had_warehouse and os.path.isdir(warehouse_dir) and not os.listdir(warehouse_dir):
            os.rmdir(warehouse_dir)


def measure(workload: str, seed: int, seconds: float, trace: bool, sess, tracer) -> dict:
    t0 = time.perf_counter()
    wl = getattr(workload_module(workload), WORKLOADS[workload][1])(seed)
    gen_s = time.perf_counter() - t0
    if trace:
        wl.wrap(tracer)
    rec = Recorder(tracer, wl.op_names)
    layer: dict[str, float] = {}

    # -- set-up, cold: fresh JVM, engine imports, data load, index builds --
    t0 = time.perf_counter()
    spark = sess.start()
    layer["session.start_s"] = time.perf_counter() - t0
    tracer.sc = spark.sparkContext
    tracer.active, tracer.cycle = trace, -1
    with tracer.span("setup"):
        wl.setup(spark, tracer)
    tracer.active = False
    # process start to the first op, less the input generation
    setup_s = harness.process_age_s() - gen_s

    # warm-up is counted in cycles, not seconds: the JIT warms per call, so
    # a fixed count leaves every run at the same point of the warm-up
    # curve whatever the host's speed
    warm, i = [], 0
    warm_cap = time.perf_counter() + WARMUP_CAP_S
    while i < wl.warmup_cycles and time.perf_counter() < warm_cap:
        t0 = time.perf_counter()
        wl.cycle(i, rec)
        warm.append(time.perf_counter() - t0)
        i += 1
    rec.ops.clear()
    wl.results.clear()

    # -- the timed window -------------------------------------------------
    failed_ops = 0
    cycles: list[tuple[bool, float]] = []  # (traced, seconds)
    process: dict[str, list[float]] = {"jvm.cpu_s": [], "py.cpu_s": [], "jvm.gc_s": []}
    start = time.perf_counter()
    while time.perf_counter() - start < seconds:
        # traced and untraced cycles alternate in blocks of trace_block, so
        # both halves see the workload's whole repeating pattern
        traced = trace and (len(cycles) // wl.trace_block) % 2 == 0
        tracer.active = traced
        tracer.cycle = rec.cycle = i
        if traced:
            before = (harness.proc_cpu_s(sess.jvm_pid), time.process_time(), harness.jvm_gc_s(spark))
        t0 = time.perf_counter()
        try:
            with tracer.span("cycle"):
                wl.cycle(i, rec)
        except Exception:
            traceback.print_exc(file=sys.stderr)
            failed_ops += 1
        cycles.append((traced, time.perf_counter() - t0))
        tracer.active = False
        if traced:
            process["jvm.cpu_s"].append(harness.proc_cpu_s(sess.jvm_pid) - before[0])
            process["py.cpu_s"].append(time.process_time() - before[1])
            process["jvm.gc_s"].append(harness.jvm_gc_s(spark) - before[2])
        i += 1
    window_s = time.perf_counter() - start
    layer["jvm.heap_peak_mb"] = harness.heap_peak_mb(spark)
    retained = harness.retained_heap_mb(spark)
    layer["peak_rss_mb"] = harness.peak_rss_mb()

    # -- correctness, outside the window ----------------------------------
    checked, errors = wl.check()
    for e in errors[:5]:
        print(f"MISMATCH {workload}: {e}", file=sys.stderr)
    ops = rec.timed()
    untraced = [d for t, d in cycles if not t]
    tail = stats.highest_tail(len(ops))
    layer.update(wl.layer_metrics(spark))
    layer.update({
        "op.count": float(len(ops)),
        "op.tail_pct": tail or 0.0,
        "op.tail_s": stats.percentile(ops, tail) if tail else 0.0,
        "warmup.slowdown": stats.median(warm[:3]) / stats.median(untraced) if untraced else 0.0,
        "window.drift": stats.drift(untraced),
    })
    if trace:
        layer.update({k: stats.median(v) for k, v in process.items()})
        layer.update(span_metrics(tracer, wl, cycles))
    failed = failed_ops + len(errors)
    layer["op.p50_s"] = stats.median(ops)
    return {
        "e2e": {
            "setup_s": setup_s,
            "cycle_s": stats.median(untraced),
            "retained_heap_mb": retained,
        },
        "layer": layer,
        "attempted": max(1, checked + failed_ops),
        "failed": failed,
        "detail": {
            "workload": workload, "seed": seed, "trace": trace,
            "generate_s": round(gen_s, 3),
            "warmup_cycles_s": [round(w, 3) for w in warm], "window_s": round(window_s, 3),
            "cycles": len(cycles), "ops": len(ops), "checked": checked, "failed": failed,
            "window_drift": round(stats.drift(untraced), 4),
            "cycles_s": [round(d, 4) for _, d in cycles],
        },
    }


def span_metrics(tracer: Tracer, wl, cycles) -> dict[str, float]:
    """Per-layer medians from the traced spans: Spark totals per cycle,
    and per call of each wrapped layer function."""
    tracer.harvest(tracer.spans)
    traced_cycles = [s for s in tracer.spans if s.name == "cycle"]
    per_cycle = [job_totals(s.subtree_jobs()) for s in traced_cycles]
    out = {k: stats.median([c[k] for c in per_cycle]) for k in SPARK_KEYS}
    out["driver.outside_jobs_s"] = stats.median(
        [s.dur - c["spark.job_s"] for s, c in zip(traced_cycles, per_cycle)]
    )
    traced = [d for t, d in cycles if t]
    untraced = [d for t, d in cycles if not t]
    out["trace.overhead_s"] = stats.median(traced) - stats.median(untraced) if untraced else 0.0
    q = SpanQuery(tracer)
    out["sources.load_s"] = q.per_cycle_s("sources.load", setup=True)
    out["similarity.retrieve_s"] = q.med_s("similarity.retrieve")
    out["similarity.retrieve_jobs"] = q.med_jobs("similarity.retrieve")
    out["sql_gate.safe_sql_s"] = q.med_s("sql_gate.safe_sql")
    out["sql_gate.preview_s"] = q.med_s("sql_gate.preview")
    out["materialize.s"] = q.med_s("materialize")
    out["materialize.jobs"] = q.med_jobs("materialize")
    for kind in ("bar", "line", "pie", "hist"):
        out[f"charts.{kind}_s"] = q.med_s(f"charts.{kind}")
    out["charts.jobs"] = q.med_jobs("charts.bar", "charts.line", "charts.pie", "charts.hist")
    out.update(wl.span_metrics(q))
    return out


class SpanQuery:
    """Medians over spans by name: per call, or summed per cycle."""

    def __init__(self, tracer: Tracer) -> None:
        self.spans = tracer.spans

    def calls(self, name: str, setup: bool = False) -> list:
        return [s for s in self.spans if s.name == name and (s.cycle < 0) == setup]

    def med_s(self, name: str, setup: bool = False) -> float:
        return stats.median([s.dur for s in self.calls(name, setup)])

    def med_jobs(self, *names: str) -> float:
        return stats.median([float(len(s.subtree_jobs())) for n in names for s in self.calls(n)])

    def per_cycle(self, name: str, setup: bool = False) -> dict[int, list]:
        out: dict[int, list] = {}
        for s in self.calls(name, setup):
            out.setdefault(s.cycle, []).append(s)
        return out

    def per_cycle_s(self, name: str, setup: bool = False) -> float:
        return stats.median([sum(s.dur for s in v) for v in self.per_cycle(name, setup).values()])

    def per_cycle_jobs(self, name: str) -> float:
        return stats.median(
            [float(sum(len(s.subtree_jobs()) for s in v)) for v in self.per_cycle(name).values()]
        )


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--spans", help="with --trace 1, write the spans to this JSON-lines file")
    args = ap.parse_args(argv)
    res = run(args.workload, args.seed, args.seconds, bool(args.trace), args.spans)
    print(json.dumps({"detail": res["detail"]}), flush=True)
    if args.trace:
        metrics = {k: {"value": res["layer"].get(k, 0.0), "unit": u} for k, u in PER_LAYER.items()}
    else:
        metrics = {k: {"value": res["e2e"][k], "unit": u} for k, u in END_TO_END.items()}
    for k in metrics:
        stats.check_metric_name(k)
    print(json.dumps({
        "correct": res["failed"] == 0,
        "attempted": res["attempted"],
        "failed": res["failed"],
        "metrics": metrics,
    }), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
