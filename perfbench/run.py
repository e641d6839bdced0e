"""sketchlib benchmark: one workload, one seed, one JSON result line.

    python3 perfbench/run.py --workload ingest|churn --seed N \\
        --seconds S --trace 0|1

Run from the repository root. The last line of standard output is
``{"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}``:
the end-to-end metrics with ``--trace 0``, the per-layer metrics with
``--trace 1`` (names and units come from ``BENCHMARK.json``). Everything the
run writes stays under ``.perfbench_out/`` in the repository root; traced
runs leave their spans there as JSON lines.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import sys  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OUT = os.path.join(ROOT, ".perfbench_out")

#: per-layer metric -> (span name, what to take from each span's record)
SPAN_METRICS = {
    "spark.session.get_spark_s": ("spark.session.get_spark", "s"),
    "pipeline.generate_pages_s": ("pipeline.generate_pages", "s"),
    "spark.cuckoo.build_filter_direct_s": ("spark.cuckoo.build_filter_direct", "s"),
    "spark.cuckoo.build_filter_direct_jobs": ("spark.cuckoo.build_filter_direct", "jobs"),
    "spark.cuckoo.build_partials_s": ("spark.cuckoo.build_partials", "s"),
    "spark.cuckoo.merge_partials_s": ("spark.cuckoo.merge_partials", "s"),
    "spark.cuckoo.merge_partials_jobs": ("spark.cuckoo.merge_partials", "jobs"),
    "spark.cuckoo.remove_keys_s": ("spark.cuckoo.remove_keys", "s"),
    "spark.cuckoo.probe_s": ("spark.cuckoo.probe", "s"),
    "spark.cuckoo.probe_jobs": ("spark.cuckoo.probe", "jobs"),
    "spark.cuckoo.probe_tasks": ("spark.cuckoo.probe", "tasks"),
    "spark.cuckoo.from_df_s": ("spark.cuckoo.from_df", "s"),
    "spark.agg.build_sketch_partials_s": ("spark.agg.build_sketch_partials", "s"),
    "spark.agg.merge_sketch_partials_s": ("spark.agg.merge_sketch_partials", "s"),
    "spark.agg.merge_jobs": ("spark.agg.merge_sketch_partials", "jobs"),
    "spark.agg.build_sketch_grouped_s": ("spark.agg.build_sketch_grouped", "s"),
    "streaming.sink_s": ("streaming.sink", "s"),
    "streaming.read_state_s": ("streaming.read_state", "s"),
}
#: per-layer metric -> key of a value the workload measured itself
EXTRA_METRICS = {
    "spark.cuckoo.partial_bytes_per_key": "partial_bytes_per_key",
    "spark.cuckoo.broadcast_bytes": "broadcast_bytes",
    "spark.cuckoo.bulk_probe_keys_per_s": "bulk_probe_keys_per_s",
    "spark.agg.partial_bytes": "agg_partial_bytes",
    "streaming.state_bytes": "state_bytes",
    "kernels.cuckoo.load_factor": "load_factor",
    "kernels.cuckoo.dropped": "dropped",
}
SELF_TIME_LAYERS = ("bench", "spark.session", "pipeline", "spark.cuckoo", "spark.agg",
                    "streaming", "kernels")


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=["ingest", "churn"])
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--scale", choices=["full", "toy"], default="full",
                    help="input sizes; toy is for the smoke test")
    return ap.parse_args(argv)


def prepare_env(work: str) -> None:
    """Keep every file the run writes (Python, JVM, Spark) inside ``work``
    and let the Python workers import sketchlib from the repository."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    # spark-submit first starts a small launcher JVM; keep its perf file out of /tmp
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    path = os.environ.get("PYTHONPATH")
    os.environ["PYTHONPATH"] = ROOT + (os.pathsep + path if path else "")
    sys.path.insert(0, ROOT)


def spark_conf(work: str, trace: bool) -> dict:
    # TieredStopAtLevel=1 (C1 only): with C2, churn steps kept getting faster
    # for ~20 steps (~25% in all) while C2 recompiled, so a run's figures
    # depended on how far warm-up had got; C1 settles within a few steps.
    conf = {
        "spark.driver.memory": "1g",
        "spark.local.dir": os.path.join(work, "local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} "
                                         "-XX:-UsePerfData -Xms1g -XX:+AlwaysPreTouch "
                                         "-XX:TieredStopAtLevel=1",
        "spark.ui.showConsoleProgress": "false",
    }
    if trace:  # keep every job of the run in the status store
        conf["spark.ui.retainedJobs"] = "100000"
        conf["spark.ui.retainedStages"] = "100000"
    return conf


def percentile(values, q: float) -> float:
    import numpy as np

    return float(np.percentile(np.asarray(values, dtype=float), q))


def end_to_end(res, setup_s: float, ops, peak_mb: float) -> dict:
    return {
        "setup_s": setup_s,
        "op_p50_ms": percentile(res.lat_s, 50) * 1e3,
        "items_per_s": res.items / sum(res.lat_s),
        "fp_ratio_to_bound": res.fp_ratio,
        "filter_bytes_per_key": res.bytes_per_key,
        "op_success_ratio": (ops.attempted - ops.failed) / ops.attempted,
        "peak_rss_mb": peak_mb,
    }


def per_layer(ctx, res) -> dict:
    import numpy as np

    tr = ctx.tracer
    out = {}
    for metric, (span, key) in SPAN_METRICS.items():
        recs = tr.by_name(span)
        vals = [r["end"] - r["start"] if key == "s" else r[key] for r in recs]
        out[metric] = float(np.median(vals)) if vals else 0.0
    for layer in ("spark.cuckoo", "spark.agg"):
        out[f"{layer}.failed_tasks"] = sum(
            r["failed_tasks"] for r in tr.spans if r["name"].rsplit(".", 1)[0] == layer
        )
    for metric, key in EXTRA_METRICS.items():
        v = ctx.extra.get(key, 0.0)
        out[metric] = float(np.median(v)) if isinstance(v, list) else float(v)
    out.update(ctx.extra.get("kernels", {}))
    selfs = tr.self_times()
    for layer in SELF_TIME_LAYERS:
        out[f"{layer}.self_s"] = selfs.get(layer, 0.0)
    out["trace.spans"] = len(tr.spans)
    out["trace.overhead_s"] = tr.overhead_s
    out["trace.op_p50_ms"] = percentile(res.lat_s, 50) * 1e3
    out["trace.items_per_s"] = res.items / sum(res.lat_s)
    return out


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "sketchlib")):
        print(f"no sketchlib package next to {HERE}: run from a full checkout", file=sys.stderr)
        return 2
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    wanted = bench["per_layer" if args.trace else "end_to_end"]

    run_id = f"{args.workload}-{args.seed}-{os.getpid()}"
    work = os.path.join(OUT, f"work-{run_id}")
    prepare_env(work)

    from procs import PeakRss, stop_spark
    from spans import Tracer

    rss = PeakRss().start()
    tracer = Tracer(run_id, enabled=bool(args.trace))
    spark = None
    try:
        from sketchlib.spark.session import get_spark
        import workloads

        with tracer.span("spark.session.get_spark"):
            spark = get_spark(f"perfbench-{args.workload}", cores=4,
                              extra_conf=spark_conf(work, bool(args.trace)))
        tracer.attach(spark.sparkContext)
        ctx = workloads.Ctx(spark, tracer, args.seed, workloads.SCALES[args.scale], work)
        marks = {}

        def setup_done():
            marks["setup_s"] = time.perf_counter() - T_START
            tracer.phase = "timed"

        res = workloads.WORKLOADS[args.workload](ctx, args.seconds, setup_done)
        tracer.resolve_jobs()
    finally:
        if spark is not None:
            stop_spark(spark)
        peak_mb = rss.stop()
        shutil.rmtree(work, ignore_errors=True)

    if args.trace:
        metrics = per_layer(ctx, res)
        tracer.write(os.path.join(OUT, f"trace-{args.workload}-seed{args.seed}.jsonl"))
    else:
        metrics = end_to_end(res, marks["setup_s"], ctx.ops, peak_mb)
    units = {m["name"]: m["unit"] for m in wanted}
    unknown = set(metrics) - set(units)
    if unknown:
        raise KeyError(f"metrics missing from BENCHMARK.json: {sorted(unknown)}")
    ops = ctx.ops
    print(f"{args.workload} seed={args.seed}: {len(res.lat_s)} timed operations, "
          f"{ops.attempted} attempted, {ops.failed} failed; timed ms: "
          f"{[round(x * 1e3) for x in res.lat_s]}", file=sys.stderr)
    print(json.dumps({
        "correct": ops.failed == 0,
        "attempted": ops.attempted,
        "failed": ops.failed,
        "metrics": {n: {"value": metrics.get(n, 0.0), "unit": u} for n, u in units.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
