"""Self-test of the span tracer and the event-log reducer on sf0.001.

    python3 -m pytest perfbench/test_layers.py -q

Runs one relational entry and language_id once untraced and once traced
(two Spark sessions, about a minute on 4 cores).
"""

from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import run as bench  # noqa: E402
from workloads import Workload, entry_op  # noqa: E402

TINY = Workload("selftest", [entry_op("groupby_agg"), entry_op("language_id")], [], 0.001)


@pytest.fixture(scope="module")
def traced():
    return bench.run(TINY, seed=7, seconds=0, trace=True)


@pytest.fixture(scope="module")
def untraced():
    return bench.run(TINY, seed=7, seconds=0, trace=False)


def test_relational_op_has_shuffle_bytes_and_a_read_job(traced):
    row = traced["per_op"]["groupby_agg"]
    assert row["shuffle_write_bytes"] > 0
    assert row["read_jobs"] >= 1
    assert row["python_run_s"] == 0


def test_language_id_runs_python_workers(traced):
    assert traced["per_op"]["language_id"]["python_run_s"] > 0
    assert traced["metrics"]["spark.python_run_s"] > 0


def test_traced_and_untraced_runs_check_the_same(traced, untraced):
    assert traced["errors"] == untraced["errors"] == []
    assert traced["failed"] == untraced["failed"] == 0
    assert traced["check_failed"] == untraced["check_failed"] == 0


def test_every_declared_per_layer_metric_is_reported(traced):
    import json

    with open(os.path.join(bench.ROOT, "BENCHMARK.json")) as fh:
        declared = {m["name"] for m in json.load(fh)["per_layer"]}
    assert declared == set(traced["metrics"])
