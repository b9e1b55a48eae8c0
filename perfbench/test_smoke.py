"""Smoke test of the benchmark itself, on tiny inputs (about a minute per
workload):

    python3 -m pytest perfbench/test_smoke.py -q -p no:cacheprovider

Checks that every metric BENCHMARK.json names is emitted with its unit for
each workload, traced and untraced, and that a corrupted output, or an
operation that raises only while warming up, is counted as a failed
operation.
"""

from __future__ import annotations

import dataclasses
import json
import os
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import run  # noqa: E402
from workloads import WORKLOADS  # noqa: E402

with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as _fh:
    SPEC = json.load(_fh)
NAMES = [w["name"] for w in SPEC["workloads"]]


def test_benchmark_names_existing_workloads():
    assert set(NAMES) == set(WORKLOADS)


@pytest.mark.parametrize("workload", NAMES)
@pytest.mark.parametrize("trace", [0, 1])
def test_every_metric_emitted_with_unit(workload, trace):
    report = run.run(WORKLOADS[workload], seed=1, seconds=1, trace=bool(trace), tiny=True)
    spec = SPEC["per_layer" if trace else "end_to_end"]
    line = run.result_line(report, [m["name"] for m in spec])
    assert line["correct"] and line["failed"] == 0 and line["attempted"] >= 1
    for m in spec:
        got = line["metrics"][m["name"]]
        assert got["unit"] == m["unit"], m["name"]
        assert isinstance(got["value"], (int, float)), m["name"]


def _corrupt_plans_op(op):
    from pyspark.sql import functions as F

    def build(spark, data_dir):
        df = op.build(spark, data_dir)
        first = df.columns[0]
        return df.withColumn(first, F.col(first) + 1)

    return dataclasses.replace(op, build=build)


def _corrupt_pipelines_op(op):
    def build(spark, data_dir):
        tables = op.build(spark, data_dir)
        name, df = next(iter(tables.items()))
        return {**tables, name: df.limit(0)}

    return dataclasses.replace(op, build=build)


@pytest.mark.parametrize("workload", NAMES)
def test_corrupted_output_is_a_failed_operation(workload):
    w = WORKLOADS[workload]
    bad = w.ops[-1]
    corrupt = _corrupt_pipelines_op if bad.layer == "pipelines" else _corrupt_plans_op
    broken = dataclasses.replace(w, ops=(*w.ops[:-1], corrupt(bad)))
    report = run.run(broken, seed=1, seconds=1, trace=False, tiny=True)
    failed_ops = {bad.name}
    assert report["failed"] >= 1
    assert set(report["failures"]) == failed_ops
    assert report["metrics"]["op_fail_ratio"]["value"] > 0
    line = run.result_line(report, [m["name"] for m in SPEC["end_to_end"]])
    assert line["correct"] is False


def _raises_once(op):
    calls = []

    def build(spark, data_dir):
        calls.append(1)
        if len(calls) == 1:
            raise RuntimeError("first call fails")
        return op.build(spark, data_dir)

    return dataclasses.replace(op, build=build)


@pytest.mark.parametrize("workload", NAMES)
def test_warm_pass_failure_fails_the_run(workload):
    w = WORKLOADS[workload]
    flaky = _raises_once(w.ops[0])
    report = run.run(dataclasses.replace(w, ops=(flaky, *w.ops[1:])),
                     seed=1, seconds=1, trace=False, tiny=True)
    assert report["failed"] == 1
    assert set(report["failures"]) == {flaky.name}
    assert "first call fails" in report["failures"][flaky.name]
    line = run.result_line(report, [m["name"] for m in SPEC["end_to_end"]])
    assert line["correct"] is False
