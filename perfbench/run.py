"""Benchmark of the engine. One run is one fresh process:

    python3 perfbench/run.py --workload pip_assign_bulk --seed 1 --seconds 10 --trace 0

It prints a JSON report line, then, as its last line, the result object
``{"correct", "attempted", "failed", "metrics"}``: the end-to-end metrics
with ``--trace 0``, the per-layer metrics with ``--trace 1``. The traced
run also writes its spans to ``.perfbench_out/``. See perfbench/README.md.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import importlib.util  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

END_TO_END = {
    "setup_s": "s",
    "op_p50_s": "s",
    "ops_per_s": "1/s",
    "peak_rss_mb": "MB",
}
SETUP_LAYERS = [
    "session.get_spark_s",
    "shipping.ship_s",
    "synth.views_s",
    "queries.prepared_fp_cover_s",
    "queries.warm_pass_s",
    "spark.scan_s",
]
OP_LAYERS = {
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "plan.flatmapgroupsinpandas": "count",
    "plan.sortaggregate": "count",
    "plan.exchange": "count",
    "plan.bnlj": "count",
    "spark.shuffle_write_bytes": "bytes",
    "spark.spill_bytes": "bytes",
    "spark.python_bytes": "bytes",
    "spark.gc_s": "s",
    "spark.executor_run_s": "s",
}
PER_LAYER = {
    **{k: "s" for k in SETUP_LAYERS},
    "queries.build_s": "s",
    "queries.execute_s": "s",
    "op.wall_p50_s": "s",
    **OP_LAYERS,
    "oracle.check_s": "s",
    "trace.overhead_s": "s",
}


def _manifest_layers() -> dict:
    import workloads

    return {
        **{f"manifest.stage_s.{s}": "s" for s in workloads.PIPELINE_STAGES},
        "manifest.cold_s": "s",
        "manifest.resume_s": "s",
        "manifest.rows_written": "count",
        "manifest.bytes_written": "bytes",
    }


def parse_args(argv):
    import workloads

    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(workloads.WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--sf", default="sf0.01",
                   help="input tables under perfbench/data (self-test: sf0.001)")
    p.add_argument("--points", type=int, default=workloads.POINTS,
                   help="pip_assign_bulk input size (self-test: small)")
    p.add_argument("--expected", default=None,
                   help="expected digests file (self-test: a corrupted copy)")
    return p.parse_args(argv)


def peak_mem_mb(mem, heap: dict) -> float:
    """Memory the run uses: the process tree's peak resident memory less
    the heap's committed size (pre-touched, so resident whatever the
    engine does), plus the heap's live set at the end of the run. What
    the JVM holds outside its heap, the driver Python and the Python
    workers count at their peak; the heap counts by what it retains."""
    return mem.peak_mb - heap["committed_mb"] + heap["live_mb"]


def metrics_of(run, mem_mb: float, trace: bool) -> dict:
    ok = run.timed_ok()
    walls = [r["wall_s"] for r in ok]
    if not trace:
        setup = (run.t_measure - T_START) - run.not_setup_s
        values = {
            "setup_s": setup,
            "op_p50_s": statistics.median(walls) if walls else float("nan"),
            "ops_per_s": len(walls) / run.measure_wall,
            "peak_rss_mb": mem_mb,
        }
        return {k: {"value": v, "unit": END_TO_END[k]} for k, v in values.items()}
    values = {k: run.setup.get(k, 0.0) for k in SETUP_LAYERS}
    n = max(len(ok), 1)
    values["queries.build_s"] = sum(r["build_s"] for r in ok) / n
    values["queries.execute_s"] = sum(r["execute_s"] for r in ok) / n
    values["op.wall_p50_s"] = statistics.median(walls) if walls else float("nan")
    for k in OP_LAYERS:
        values[k] = sum(r["layers"][k] for r in ok) / n
    manifest = _manifest_layers()
    for k in manifest:
        # measured on query_mix only
        values[k] = run.pipeline.get(k.removeprefix("manifest."), 0.0)
    values["oracle.check_s"] = run.check_s
    values["trace.overhead_s"] = run.layers.overhead_s
    units = {**PER_LAYER, **manifest}
    return {k: {"value": v, "unit": units[k]} for k, v in values.items()}


def main(argv=None) -> int:
    sys.path.insert(0, HERE)
    args = parse_args(argv)
    sys.path.insert(0, ROOT)
    if importlib.util.find_spec("pdxbldgimport_spark") is None:
        print(f"perfbench: the engine package pdxbldgimport_spark is not under {ROOT}",
              file=sys.stderr)
        return 2

    import check
    import harness
    import workloads

    expected = args.expected or check.EXPECTED
    check.sf_dir(args.sf)
    work_dir = os.path.join(ROOT, ".perfbench_work",
                            f"{args.workload}-s{args.seed}-{os.getpid()}")
    os.makedirs(work_dir, exist_ok=True)
    # Python temp files (the shipped package zip) stay inside the checkout
    os.environ["TMPDIR"] = work_dir
    tempfile.tempdir = None

    sizing = harness.host_sizing()
    tracer = harness.Tracer(bool(args.trace))
    spark = None
    try:
        with harness.MemSampler() as mem:
            with tracer.span("run", workload=args.workload, seed=args.seed):
                with tracer.span("session.get_spark_s"):
                    t0 = time.perf_counter()
                    spark = harness.start_spark(sizing, work_dir)
                    session_s = time.perf_counter() - t0
                from pdxbldgimport_spark import queries as Q
                from pdxbldgimport_spark.shipping import ship

                layers = harness.SparkLayers(spark) if args.trace else None
                run = workloads.Run(spark, args.sf, args.seed, args.seconds, tracer,
                                    layers, work_dir, expected, args.points)
                run.setup["session.get_spark_s"] = session_s
                run.step("shipping.ship_s", lambda: ship(spark))
                run.step("synth.views_s", lambda: Q.views(spark, run.sf_dir))
                workloads.WORKLOADS[args.workload](run)
                heap = harness.jvm_heap_mb(spark)
            t_stop = time.perf_counter()
            harness.stop_spark(spark)
            spark = None
    finally:
        if spark is not None:
            harness.stop_spark(spark)
        shutil.rmtree(work_dir, ignore_errors=True)
    teardown_s = time.perf_counter() - t_stop

    mem_mb = peak_mem_mb(mem, heap)
    metrics = metrics_of(run, mem_mb, bool(args.trace))
    report = {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "sf": args.sf,
        "host": sizing,
        "timed_ops": len(run.timed_ok()),
        "measure_wall_s": run.measure_wall,
        "setup_steps_s": run.setup,
        "input_generate_s": run.input_s,
        "teardown_s": teardown_s,
        "errors": run.errors,
        "memory_mb": {"peak_rss_mb": mem_mb, "tree_peak_pss_mb": mem.peak_mb, **heap},
        **run.report,
    }
    if args.trace:
        path = os.path.join(ROOT, ".perfbench_out",
                            f"trace-{args.workload}-s{args.seed}-{tracer.run_id}.json")
        tracer.write(path, {"report": report, "ops": run.ops})
        report["trace_file"] = os.path.relpath(path, ROOT)
    print(json.dumps({"report": report}, default=str))
    print(json.dumps({
        "correct": run.failed == 0,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
