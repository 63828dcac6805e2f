"""The benchmark's own tests: seeded inputs, metric names against
BENCHMARK.json, the traced run's per-layer names and the resume
protocol's useful fraction.

    python -m pytest perfbench -q -p no:cacheprovider
"""
from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

from perfbench import inputs, layers, probes, workloads
from perfbench.run import ROOT, SPEC, WORKLOADS


@pytest.mark.parametrize("workload", WORKLOADS)
def test_same_seed_same_bytes_other_seed_other_bytes(workload):
    a = inputs.batch_files(workload, 7, 4)["files"]
    assert a == inputs.batch_files(workload, 7, 4)["files"]
    assert a != inputs.batch_files(workload, 8, 4)["files"]


def test_metric_total_parses_status_store_text():
    assert probes.metric_total(
        "total (min, med, max (stageId: taskId))\n5.7 s (2.8 s, 2.9 s)") \
        == pytest.approx(5700.0)
    assert probes.metric_total("1627.9 KiB") == pytest.approx(1627.9 / 1024)
    assert probes.metric_total("4,368") == 4368.0


def test_quantile_nearest_rank():
    xs = list(range(1, 101))
    assert probes.quantile(xs, 0.9) == 90
    assert workloads.drift([1, 1, 1, 1, 2, 2, 2, 2]) == pytest.approx(1.0)


@pytest.fixture(scope="module")
def spark(tmp_path_factory):
    s = probes.start_spark(str(tmp_path_factory.mktemp("spark")))
    yield s
    probes.stop_spark(s)


@pytest.fixture(scope="module")
def tiny_input(tmp_path_factory):
    work = tmp_path_factory.mktemp("tiny")
    rows = inputs.generate_transcripts(n_convs=6, median_turns=4, seed=5,
                                       hot_factor=3)
    in_dir = work / "in"
    in_dir.mkdir()
    for i, part in enumerate(inputs.split_rows(rows, 2)):
        (in_dir / f"part-{i}.parquet").write_bytes(inputs.parquet_bytes(part))
    return str(work), str(in_dir), rows


def test_useful_frac_is_one_on_tiny_input(spark, tiny_input):
    work, in_dir, rows = tiny_input
    out, bad = layers.checkpoint_layers(spark, in_dir,
                                        os.path.join(work, "results"), rows)
    assert bad == []
    assert out["plans.pipeline.useful_frac"] == 1.0


@pytest.mark.parametrize("trace,section", [(0, "end_to_end"),
                                           (1, "per_layer")])
def test_run_prints_every_metric_of_the_spec(trace, section):
    """A short run prints exactly the spec's metric names, with units,
    and passes its output checks (trace 1: every per-layer name)."""
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "stream_feed",
         "--seed", "3", "--seconds", "2", "--trace", str(trace)],
        cwd=ROOT, capture_output=True, text=True, timeout=300)
    assert p.returncode == 0, p.stderr[-2000:]
    out = json.loads(p.stdout.strip().splitlines()[-1])
    assert out["correct"] and out["failed"] == 0 and out["attempted"] >= 1
    assert {k: v["unit"] for k, v in out["metrics"].items()} == \
        {m["name"]: m["unit"] for m in SPEC[section]}
    assert tuple(w["name"] for w in SPEC["workloads"]) == WORKLOADS


def test_exits_nonzero_without_the_engine(tmp_path):
    """In a directory holding only the benchmark, it fails fast and
    prints no result."""
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(os.path.join(ROOT, "perfbench"), tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "extract_batch",
         "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, env=env, capture_output=True, text=True, timeout=60)
    assert p.returncode != 0
    assert '"correct"' not in p.stdout
