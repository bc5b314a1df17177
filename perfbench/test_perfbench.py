"""Self-test of the benchmark on tiny inputs (about a minute):

    python3 -m pytest perfbench/test_perfbench.py -q -p no:cacheprovider
"""

from __future__ import annotations

import argparse
import json
import os
import time

import pytest

from perfbench import run, workloads

BENCHMARK = os.path.join(run.ROOT, "BENCHMARK.json")


@pytest.fixture(autouse=True)
def tiny(monkeypatch):
    monkeypatch.setattr(workloads, "SF", 0.001)
    monkeypatch.setattr(workloads, "QUERY_SETS", {
        "analytics": ["weekly_revenue_spine", "pps_orders_sample"],
        "llm_corpus": ["supplier_pagerank", "image_meta_extract"],
    })


def _args(workload: str, trace: int) -> argparse.Namespace:
    return argparse.Namespace(workload=workload, seed=7, seconds=1, trace=trace)


def _declared(kind: str) -> dict[str, str]:
    with open(BENCHMARK) as fh:
        return {m["name"]: m["unit"] for m in json.load(fh)[kind]}


def test_untraced_run_prints_every_end_to_end_metric():
    rec, peak = run.measure(_args("analytics", 0), time.monotonic() + 170)
    out = run.report(rec, peak, trace=False)
    assert out["correct"] and out["failed"] == 0 and out["attempted"] >= 6
    assert {k: v["unit"] for k, v in out["metrics"].items()} == _declared("end_to_end")
    assert all(v["value"] > 0 for v in out["metrics"].values())


def test_corrupted_expected_value_counts_as_failed():
    args = _args("analytics", 0)
    run_dir = os.path.join(run.ROOT, ".perfbench", "selftest-corrupt")
    os.makedirs(run_dir, exist_ok=True)
    try:
        spec = run.prepare(args, run_dir)
        rows, digest = spec["expected"]["pps_orders_sample"]
        spec["expected"]["pps_orders_sample"] = [rows, digest[::-1]]
        rec, peak = run.run_worker(spec, run_dir, time.monotonic() + 170)
    finally:
        import shutil

        shutil.rmtree(run_dir, ignore_errors=True)
    out = run.report(rec, peak, trace=False)
    assert not out["correct"]
    assert out["failed"] / out["attempted"] > 0
    assert {o["name"] for o in rec["ops"] if not o["ok"]} == {"pps_orders_sample"}


def test_traced_run_prints_every_per_layer_metric_and_attributes_jobs():
    rec, peak = run.measure(_args("llm_corpus", 1), time.monotonic() + 170)
    out = run.report(rec, peak, trace=True)
    assert out["correct"]
    assert {k: v["unit"] for k, v in out["metrics"].items()} == _declared("per_layer")
    for op, spark in zip(rec["ops"], rec["spark_ops"]):
        assert spark["stage_covered_s"] <= spark["wall_s"] + 1e-9
        assert abs(spark["wall_s"] - (op["t1"] - op["t0"])) < 1e-9
        if op["name"] == "supplier_pagerank":
            assert spark["jobs"] > 1
    m = out["metrics"]
    assert m["run.latency_tail_s"]["value"] > 0 and m["run.peak_rss_mb"]["value"] > 0
    assert m["operators.graph.calls"]["value"] > 0
    assert m["spark.python_bytes_sent"]["value"] > 0
    assert m["streaming.incremental_gold.s"]["value"] == 0
