"""Self-tests of the benchmark: a tiny-size run of each workload, a traced
run, fault injections that must each show up as failed operations, and
the command-line refusals.

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest
from pyspark.sql import functions as F

from perfbench import gen, harness, workloads
from perfbench.trace import NullTracer, Tracer
from perfbench.workloads import Workload

from fraud_detection_in_banking_transactions_using_hadoop_spark.plans import lookup as lookup_mod
from fraud_detection_in_banking_transactions_using_hadoop_spark.sources import writers
from fraud_detection_in_banking_transactions_using_hadoop_spark.streaming import scorer, stateful

SPEC = json.load(open(os.path.join(harness.REPO, "BENCHMARK.json")))
TINY = {
    "lambda": Workload("tiny_lambda", gen.Shape(300, 12, 50), exact=False),
    "exact": Workload("tiny_exact", gen.Shape(300, 12, 50), exact=True),
}
# An event of the first micro-batch (payload index 7).
TARGET = gen.POS0 + 7


@pytest.fixture(scope="module")
def spark(tmp_path_factory):
    spark, _ = harness.start_session(str(tmp_path_factory.mktemp("session")), 2)
    spark.conf.set("spark.sql.shuffle.partitions", "2")
    yield spark
    harness.stop_session(spark)


def _run(spark, tmp_path, kind, tracer=None):
    return workloads.run(spark, TINY[kind], seed=5, seconds=1.0,
                         work=str(tmp_path), tracer=tracer or NullTracer())


def _flip(df):
    flipped = F.when(F.col("status") == "FRAUD", "GENUINE").otherwise("FRAUD")
    return df.withColumn(
        "status", F.when(F.col("pos_id") == TARGET, flipped).otherwise(F.col("status")))


def _drop(df):
    return df.filter(F.col("pos_id") != TARGET)


def _faulty(monkeypatch, kind, fault):
    mod, attr = (stateful, "score_stream_stateful") if kind == "exact" else (
        scorer, "score_transactions")
    orig = getattr(mod, attr)
    monkeypatch.setattr(mod, attr, lambda *a, **k: fault(orig(*a, **k)))


@pytest.mark.parametrize("kind", ["lambda", "exact"])
def test_smoke(spark, tmp_path, kind):
    res = _run(spark, tmp_path, kind)
    assert res.failed == 0
    assert res.attempted >= workloads.REBUILD_REPS + workloads.WARMUP_BATCHES + 3
    names = {m["name"] for m in SPEC["end_to_end"]}
    assert set(res.metrics) == names
    assert all(v > 0 for v, _ in res.metrics.values())


@pytest.mark.parametrize("kind", ["lambda", "exact"])
def test_traced_run_reports_every_layer(spark, tmp_path, kind):
    tracer = Tracer(str(tmp_path / "no-event-log"))
    tracer.install()
    try:
        res = _run(spark, tmp_path / "w", kind, tracer)
    finally:
        tracer.uninstall()
    tracer.finish(res)
    assert res.failed == 0
    m = {k: v for k, (v, _) in res.metrics.items()}
    assert set(m) == {x["name"] for x in SPEC["per_layer"]}
    assert m["stream.jobs_per_batch"] > 0
    # Status counts and state size cover the warm-up batches only, a fixed
    # event set whatever the number of measured batches.
    shape = TINY[kind].shape
    warm = gen.payload(spark, 5, shape, 0, workloads.WARMUP_BATCHES * shape.events_per_batch
                       ).select("card_id").collect()
    assert m["stream.n_fraud"] + m["stream.n_genuine"] == len(warm)
    if kind == "exact":
        assert m["stateful.state_rows"] == len(set(warm))
    else:
        assert m["merge.atomic_overwrite_ms"] > 0


@pytest.mark.parametrize("kind,fault", [
    ("lambda", _flip), ("lambda", _drop), ("exact", _flip), ("exact", _drop),
])
def test_output_fault_counts_as_failure(spark, tmp_path, monkeypatch, kind, fault):
    _faulty(monkeypatch, kind, fault)
    res = _run(spark, tmp_path, kind)
    assert res.failed >= 1


def test_wrong_lookup_counts_as_failure(spark, tmp_path, monkeypatch):
    orig = lookup_mod.build_lookup

    def wrong(*a, **k):
        lk = orig(*a, **k)
        return lk.withColumn(
            "ucl", F.when(F.col("card_id") == gen.CARD0 + 3, F.col("ucl") + 1).otherwise(F.col("ucl")))

    monkeypatch.setattr(lookup_mod, "build_lookup", wrong)
    res = _run(spark, tmp_path, "lambda")
    assert res.failed >= 1


def test_raising_rebuild_counts_as_failure(spark, tmp_path, monkeypatch):
    orig, calls = writers.overwrite_keyed_table, []

    def flaky(*a, **k):
        calls.append(1)
        if len(calls) == 2:
            raise RuntimeError("injected")
        return orig(*a, **k)

    monkeypatch.setattr(writers, "overwrite_keyed_table", flaky)
    res = _run(spark, tmp_path, "lambda")
    assert res.failed == 1
    assert "rebuild_s" in res.metrics


def _cli(cwd, *args):
    # start_session exports the checkout on PYTHONPATH; the child must not
    # inherit it, or it would find the package from anywhere.
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    return subprocess.run(
        [sys.executable, "perfbench/run.py", *args], cwd=cwd, env=env,
        capture_output=True, text=True, timeout=120)


def test_refuses_to_run_without_the_package(tmp_path):
    shutil.copytree(os.path.join(harness.REPO, "perfbench"), tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(os.path.join(harness.REPO, "BENCHMARK.json"), tmp_path)
    p = _cli(tmp_path, "--workload", "lambda_large", "--seed", "1", "--seconds", "1", "--trace", "0")
    assert p.returncode != 0
    assert p.stdout.strip() == ""


def test_refuses_unknown_workload():
    p = _cli(harness.REPO, "--workload", "nope", "--seed", "1", "--seconds", "1", "--trace", "0")
    assert p.returncode != 0
    assert p.stdout.strip() == ""
