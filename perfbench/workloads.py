"""Workload definitions and the metric catalogue.

A pass is the workload's fixed set of operations, run in a seeded order.
An operation is one query execution ending in one action, or one landed
week for ``weekly_medallion``.
"""

from __future__ import annotations

import importlib
import pkgutil
import random

# Input scale for the query workloads (lineitem ≈ 6M·SF rows). At this
# scale a query's time is mostly planning, scheduling and driver
# round-trips, as on the 69-query headline list at sf0.1 on 4 cores.
SF = 0.01
# Loans per landed week. The reference lands about 14,400 a week
# (BASELINE.md), but a week's time barely depends on its size (17 s warm
# at 3,000 loans, 20 s at 14,400), and the smaller week keeps every run
# of the benchmark inside the harness's time budget.
LOANS_PER_WEEK = 3_000
REVISE_FRAC = 0.25

# A slice of each half of the headline list, sized so that all runs of
# the benchmark fit the harness's time budget. An odd number of queries
# keeps the median warm latency on one query's samples rather than in
# the gap between two. Each query names the module that registers it.
QUERY_SETS = {
    "analytics": [
        "top_supplier_per_nation_week",  # relational
        "user_sessions",  # pipeline_queries
        "weekly_revenue_spine",  # series_queries
        "cm_sketch_heavy_hitters",  # rollup_queries
        "pps_orders_sample",  # sampling_queries
    ],
    "llm_corpus": [
        "supplier_pagerank",  # graph_queries: iterative join loop
        "kmeans_embedding_cells",  # llm_ann_queries: Lloyd iterations
        "image_meta_extract",  # feature_queries: Arrow mapInPandas
    ],
}
WORKLOADS = ("analytics", "llm_corpus", "weekly_medallion")
# Warm passes a run always makes, however long they take. A landed week
# costs tens of seconds, so the medallion run measures one.
MIN_WARM_PASSES = {"analytics": 3, "llm_corpus": 2, "weekly_medallion": 1}


def import_plan_modules() -> None:
    """Import every plan module, which registers every query."""
    import mle_proj_datapipeline_spark.plans as plans

    for info in pkgutil.iter_modules(plans.__path__, plans.__name__ + "."):
        importlib.import_module(info.name)


def pass_order(names: list[str], seed: int, pass_no: int) -> list[str]:
    """The query order of one pass: a seeded shuffle, new every pass."""
    names = list(names)
    random.Random(f"{seed}:{pass_no}").shuffle(names)
    return names


END_TO_END = {
    "setup_s": "s",
    "first_pass_s": "s",
    "wall_s": "s",
    "latency_p50_s": "s",
}

# The operator modules the workloads call (a module no workload calls
# would only ever read 0).
OPERATOR_MODULES = ("encode", "graph", "hashing", "impute", "kmeans", "multimodal", "sketch", "veclib")

SPARK_METRICS = {
    "jobs": "count", "stages": "count", "tasks": "count", "executor_run_s": "s",
    "executor_cpu_s": "s", "driver_s": "s", "stage_coverage": "ratio",
    "shuffle_read_bytes": "B", "shuffle_write_bytes": "B", "shuffle_fetch_wait_s": "s",
    "spill_bytes": "B", "gc_s": "s", "task_skew": "ratio", "failed_tasks": "count",
    "python_bytes_sent": "B", "python_bytes_received": "B",
}

STREAMING_PROGRESS = {
    "batches": "count", "input_rows": "count", "add_batch_s": "s",
    "wal_commit_s": "s", "query_planning_s": "s", "latest_offset_s": "s",
}


def per_layer_metrics() -> dict[str, str]:
    """Every per-layer metric a traced run prints, with its unit. Values
    other than the session ones are per warm pass (median over passes)."""
    m = {
        # run-level figures too unsteady across seeds on a shared 4-vCPU
        # host to carry a regression bound (see README.md)
        "run.latency_tail_s": "s",
        "run.peak_rss_mb": "MB",
        "session.import_s": "s",
        "session.get_spark_s": "s",
        "session.conf_changes": "count",
        "plans.build_s": "s",
        "plans.build_jobs": "count",
        "plans.plan_s": "s",
        "plans.exchanges": "count",
    }
    for mod in OPERATOR_MODULES:
        m[f"operators.{mod}.s"] = "s"
        m[f"operators.{mod}.calls"] = "count"
    m.update({
        "sources.materialize_frame.s": "s",
        "sources.materialize_frame.calls": "count",
        "sources.load_table.calls": "count",
        "sources.leaked_rdds": "count",
        "sources.written_bytes": "B",
        "sources.stored_bytes_per_input_byte": "B/B",
    })
    for fn in ("incremental_silver", "incremental_gold", "maintain_gold", "partition_weeks"):
        m[f"streaming.{fn}.s"] = "s"
    for k, unit in STREAMING_PROGRESS.items():
        m[f"streaming.{k}"] = unit
    for k, unit in SPARK_METRICS.items():
        m[f"spark.{k}"] = unit
    m["trace.wall_s"] = "s"
    return m
