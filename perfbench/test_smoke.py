"""Smoke test of the benchmark itself, at toy input sizes.

    python3 -m pytest perfbench/test_smoke.py -q     (from the repository root)

Checks that every metric listed in BENCHMARK.json is emitted with its unit,
that a seed fixes the generated inputs and that another seed changes them.
Takes about two minutes: each run starts its own Spark session.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BENCH = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
WORKLOADS = [w["name"] for w in BENCH["workloads"]]


def run_bench(workload: str, trace: int, seed: int = 1, cwd: str = ROOT):
    cmd = BENCH["command"] + ["--workload", workload, "--seed", str(seed), "--seconds", "1",
                              "--trace", str(trace), "--scale", "toy"]
    return subprocess.run(cmd, cwd=cwd, capture_output=True, text=True, timeout=300)


@pytest.fixture(scope="module")
def results():
    out = {}
    for w in WORKLOADS:
        for trace in (0, 1):
            p = run_bench(w, trace)
            assert p.returncode == 0, p.stderr[-3000:]
            out[w, trace] = json.loads(p.stdout.strip().splitlines()[-1])
    return out


@pytest.mark.parametrize("trace,section", [(0, "end_to_end"), (1, "per_layer")])
def test_every_metric_emitted_with_unit(results, trace, section):
    listed = {m["name"]: m["unit"] for m in BENCH[section]}
    for w in WORKLOADS:
        r = results[w, trace]
        assert set(r) == {"correct", "attempted", "failed", "metrics"}
        assert r["correct"] is True and r["failed"] == 0 and r["attempted"] >= 1, (w, r)
        assert {k: v["unit"] for k, v in r["metrics"].items()} == listed, w
        for k, v in r["metrics"].items():
            assert isinstance(v["value"], (int, float)), (w, k)
            if section == "end_to_end":
                assert v["value"] > 0, (w, k)


def test_every_layer_metric_measured_somewhere(results):
    for m in BENCH["per_layer"]:
        if m["name"] in ("kernels.cuckoo.dropped", "spark.cuckoo.failed_tasks",
                         "spark.agg.failed_tasks"):
            continue  # zero on a healthy run
        assert any(results[w, 1]["metrics"][m["name"]]["value"] for w in WORKLOADS), m["name"]


@pytest.fixture(scope="module")
def spark_ctx():
    sys.path.insert(0, HERE)
    import run

    work = os.path.join(run.OUT, f"smoke-{os.getpid()}")
    run.prepare_env(work)
    from procs import stop_spark
    from sketchlib.spark.session import get_spark

    spark = get_spark("perfbench-smoke", cores=4, extra_conf=run.spark_conf(work, False))
    yield spark, work
    stop_spark(spark)
    shutil.rmtree(work, ignore_errors=True)


def test_seed_fixes_inputs(spark_ctx):
    import workloads
    from spans import Tracer

    spark, work = spark_ctx

    def digest(w, seed):
        ctx = workloads.Ctx(spark, Tracer("smoke", False), seed, workloads.SCALES["toy"], work)
        return workloads.digest_inputs(workloads.INPUTS[w](ctx))

    for w in WORKLOADS:
        first = digest(w, 1)
        assert digest(w, 1) == first, w
        assert digest(w, 2) != first, w


def test_fails_without_the_library(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    for d in BENCH["paths"]:
        shutil.copytree(os.path.join(ROOT, d), tmp_path / d,
                        ignore=shutil.ignore_patterns("__pycache__"))
    p = run_bench(WORKLOADS[0], 0, cwd=str(tmp_path))
    assert p.returncode != 0
    assert not p.stdout.strip()
