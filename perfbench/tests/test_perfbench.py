"""Self-tests of the benchmark. Run from the repository root:

    python -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, ROOT)

from perfbench import run  # noqa: E402

with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
    SPEC = json.load(f)
END_TO_END = {m["name"]: m["unit"] for m in SPEC["end_to_end"]}
PER_LAYER = {m["name"]: m["unit"] for m in SPEC["per_layer"]}
TINY = 0.02
WORK = os.path.join(run.WORK, "selftest")


@pytest.fixture(scope="module")
def env():
    shutil.rmtree(WORK, ignore_errors=True)
    return run.pin_environment(WORK)


@pytest.fixture(scope="module")
def spark(env):
    session = run.start_spark(env["cores"], WORK)
    yield session
    run.stop_spark(session)
    shutil.rmtree(run.WORK, ignore_errors=True)


def _bench(spark, env, name, scale, corrupt=False):
    from perfbench.workloads import WORKLOADS

    work = os.path.join(WORK, name)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    return run.Bench(spark, WORKLOADS[name], seed=3, scale=scale, cores=env["cores"], work=work, corrupt=corrupt)


def _units(metrics):
    return {name: m["unit"] for name, m in metrics.items()}


@pytest.mark.parametrize("name", ["repo_batch", "commit_stream", "alias_dense"])
def test_every_metric_with_its_unit_at_tiny_size(spark, env, name):
    bench = _bench(spark, env, name, TINY)
    setup_s = bench.setup(warm_up=True)
    end_to_end = {"setup_s": run._metric(setup_s, "s"), **bench.measure(0)}
    assert _units(end_to_end) == END_TO_END
    assert all(m["value"] > 0 for m in end_to_end.values())

    per_layer = bench.trace()
    assert _units(per_layer) == PER_LAYER
    assert per_layer["trace.digest_match"]["value"] == 1
    assert abs(per_layer["trace.layer_sum_ratio"]["value"] - 1) <= run.LAYER_SUM_TOLERANCE
    assert per_layer["trace.replay_ratio"]["value"] > 0
    # warm-up, timed run, traced run, and a streaming trace's real drain
    assert (bench.attempted, bench.failed) == (3 + bench.workload.trace_runs_program, 0)


def test_dropped_triple_counts_as_failed_run(spark, env):
    bench = _bench(spark, env, "repo_batch", TINY, corrupt=True)
    bench.setup(warm_up=True)
    assert bench.measure(0) == {}
    assert (bench.attempted, bench.failed) == (2, 1)


@pytest.mark.parametrize("name, above", [("alias_dense", True), ("repo_batch", False)])
def test_cluster_edges_against_driver_threshold(spark, env, name, above):
    bench = _bench(spark, env, name, 1.0)
    bench.setup(warm_up=True)
    edges = bench.trace()["cluster.edges"]["value"]
    assert (edges > 200_000) == above, edges
    assert bench.failed == 0


def test_any_seed_folds_into_the_recorded_seeds():
    with open(run.DIGESTS) as f:
        recorded = {name: {int(s) for s in seeds} for name, seeds in json.load(f).items()}
    assert [run.data_seed(s) for s in range(1, run.DATA_SEEDS + 1)] == list(range(1, run.DATA_SEEDS + 1))
    for seed in (0, -7, 11, 4_000_000_000, 2**63):
        assert all(run.data_seed(seed) in seeds for seeds in recorded.values())


def test_exits_nonzero_without_the_program(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(
        os.path.join(ROOT, "perfbench"), tmp_path / "perfbench", ignore=shutil.ignore_patterns("__pycache__")
    )
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "repo_batch", "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, env=env, capture_output=True, text=True, timeout=180,
    )
    assert proc.returncode != 0
    assert '"correct"' not in proc.stdout
