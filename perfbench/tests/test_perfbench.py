"""Self-test of the benchmark at toy size.

Run from the repository root::

    python3 -m pytest perfbench/tests -q -p no:cacheprovider

* every end-to-end metric (``--trace 0``) and every per-layer metric
  (``--trace 1``) named in ``BENCHMARK.json`` is emitted with its unit, on
  the benchmark's workloads and on ``pit_skew``;
* the correctness gate is not vacuous: a planted wrong ``feature_vec``
  drops ``match_rate`` below 1, a planted future match raises
  ``leakage_rows`` above 0, and a wrong i-vector latent is caught.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH_DIR = os.path.dirname(HERE)
REPO = os.path.dirname(BENCH_DIR)
sys.path.insert(0, BENCH_DIR)
sys.path.insert(0, REPO)

with open(os.path.join(REPO, "BENCHMARK.json")) as f:
    SPEC = json.load(f)


def _run(workload: str, trace: int) -> dict:
    proc = subprocess.run(
        [sys.executable, os.path.join("perfbench", "run.py"), "--workload", workload,
         "--seed", "3", "--seconds", "1", "--trace", str(trace), "--scale", "toy"],
        cwd=REPO, capture_output=True, text=True, timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    return json.loads(proc.stdout.strip().splitlines()[-1])


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", ["pit_uniform", "pit_skew", "ivector_train"])
def test_every_metric_emitted_with_unit(workload, trace):
    res = _run(workload, trace)
    assert set(res) == {"correct", "attempted", "failed", "metrics"}
    assert res["correct"] is True and res["failed"] == 0 and res["attempted"] >= 1
    want = {m["name"]: m["unit"] for m in SPEC["per_layer" if trace else "end_to_end"]}
    got = {k: v["unit"] for k, v in res["metrics"].items()}
    assert got == want
    for k, v in res["metrics"].items():
        assert isinstance(v["value"], float), k
    if not trace:
        assert res["metrics"]["match_rate"]["value"] == 1.0
        assert all(res["metrics"][k]["value"] > 0 for k in want)
    else:
        assert res["metrics"]["leakage_rows"]["value"] == 0
        assert res["metrics"]["failed_ops"]["value"] == 0


def test_fails_outside_a_checkout(tmp_path):
    """With only the benchmark's own files present, the run must fail
    without printing a result."""
    shutil.copy(os.path.join(REPO, "BENCHMARK.json"), tmp_path)
    shutil.copytree(BENCH_DIR, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "pit_uniform", "--seed", "1",
         "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=120,
    )
    assert proc.returncode != 0
    assert "correct" not in proc.stdout


# -- planted faults -------------------------------------------------------------


@pytest.fixture(scope="module")
def spark(tmp_path_factory):
    from featureengineer_spark import get_spark

    s = get_spark(master="local[2]", shuffle_partitions=4, app_name="perfbench-selftest")
    yield s
    s.stop()


@pytest.fixture(scope="module")
def pit_run(spark, tmp_path_factory):
    import workloads

    work = str(tmp_path_factory.mktemp("pit"))
    inputs = workloads.build_inputs(spark, "pit_uniform", 5, os.path.join(work, "in"), "toy")
    rep = workloads.Rep(spark, "pit_uniform", inputs, os.path.join(work, "root"), scale="toy")
    assert rep.job() == [] and rep.resume() == []
    return inputs, rep


def test_gate_passes_on_committed_output(spark, pit_run):
    import gate

    inputs, rep = pit_run
    res = gate.check_pit(spark, inputs, rep.root, 5)
    assert res.ok and res.match_rate == 1.0 and res.leakage_rows == 0, res.errors


def test_planted_wrong_feature_vec_drops_match_rate(spark, pit_run):
    from pyspark.sql import functions as F

    import gate

    inputs, rep = pit_run
    feats = spark.read.parquet(os.path.join(rep.root, "features", "data"))
    victim = gate.sample_convs(inputs, 5)[1]
    bad = feats.withColumn(
        "feature_vec",
        F.when(
            (F.col("conv_id") == victim) & (F.col("turn_idx") == 3),
            F.transform("feature_vec", lambda x: x + F.lit(0.5)),
        ).otherwise(F.col("feature_vec")),
    )
    res = gate.check_pit(spark, inputs, rep.root, 5, frames={"features": bad})
    assert 0 < res.match_rate < 1.0
    assert not res.ok


def test_planted_future_match_raises_leakage(spark, pit_run):
    from pyspark.sql import functions as F

    import gate

    inputs, rep = pit_run
    asof = spark.read.parquet(os.path.join(rep.root, "asof", "data"))
    # one anchor's matched row moved past the anchor — a future read
    w = asof.filter(F.col("matched_ts").isNotNull()).orderBy("conv_id", "anchor_ts").first()
    bad = asof.withColumn(
        "matched_ts",
        F.when(
            (F.col("conv_id") == w["conv_id"]) & (F.col("anchor_ts") == F.lit(w["anchor_ts"])),
            F.col("anchor_ts") + F.expr("INTERVAL 1 SECOND"),
        ).otherwise(F.col("matched_ts")),
    )
    res = gate.check_pit(spark, inputs, rep.root, 5, frames={"asof": bad})
    assert res.leakage_rows >= 1
    assert not res.ok


def test_planted_wrong_latent_is_caught(spark, tmp_path_factory):
    from pyspark.sql import functions as F

    import gate
    import workloads

    work = str(tmp_path_factory.mktemp("iv"))
    inputs = workloads.build_inputs(spark, "ivector_train", 5, os.path.join(work, "in"), "toy")
    rep = workloads.Rep(spark, "ivector_train", inputs, os.path.join(work, "root"),
                        scale="toy")
    assert rep.job() == []
    cfg = workloads.IVECTOR_CONFIG
    assert gate.check_ivector(spark, inputs, rep.root, 5, cfg).ok
    lat = spark.read.parquet(os.path.join(rep.root, "latent", "data"))
    victim = gate.sample_convs(inputs, 5)[0]
    bad = lat.withColumn(
        "latent",
        F.when(F.col("conv_id") == victim, F.transform("latent", lambda x: x * 1.01))
        .otherwise(F.col("latent")),
    )
    res = gate.check_ivector(spark, inputs, rep.root, 5, cfg, frames={"latent": bad})
    assert res.match_rate < 1.0 and not res.ok
