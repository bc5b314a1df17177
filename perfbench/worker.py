"""The measured process: one Spark session running one workload in a
closed loop with one client. Started by ``run.py``, which owns the
inputs, the expected values and the process-tree memory probe; this
process writes its raw record as JSON and exits.

    python3 perfbench/worker.py --spec <run_dir>/spec.json
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if ROOT not in sys.path:
    sys.path.insert(0, ROOT)

from perfbench import gen, tracing, workloads  # noqa: E402
from perfbench.oracle import canonical_digest  # noqa: E402


def dir_bytes(path: str) -> int:
    total = 0
    for dirpath, _, names in os.walk(path):
        for n in names:
            total += os.path.getsize(os.path.join(dirpath, n))
    return total


class Recorder:
    """Per-operation records; in traced runs also job groups, plan
    metrics, conf rewrites, leaked persistent RDDs and layer spans."""

    def __init__(self, spark, trace: bool):
        self.spark, self.trace = spark, trace
        self.ops: list[dict] = []
        self._conf = self._confs() if trace else {}
        tracing.take()  # drop the set-up spans

    def _confs(self) -> dict[str, str]:
        return dict(self.spark.conf.getAll)

    def _persistent(self) -> int:
        return self.spark.sparkContext._jsc.getPersistentRDDs().size()

    def begin(self, name: str, pass_no: int) -> dict:
        rec = {"name": name, "pass": pass_no, "ok": False}
        if self.trace:
            rec["group"] = f"perfbench-op-{len(self.ops)}"
            rec["rdds_before"] = self._persistent()
            self.spark.sparkContext.setJobGroup(rec["group"], name)
            tracing.take()
        rec["t0"], rec["m0"] = time.time(), time.monotonic()
        return rec

    def end(self, rec: dict) -> None:
        # epoch times place the operation among event-log timestamps;
        # monotonic ones give its latency
        rec["t1"], rec["m1"] = time.time(), time.monotonic()
        if self.trace:
            rec["spans"] = tracing.take()
            self.spark.sparkContext.setLocalProperty("spark.jobGroup.id", None)
            rec["leaked_rdds"] = self._persistent() - rec.pop("rdds_before")
            now = self._confs()
            rec["conf_changes"] = sum(1 for k, v in now.items() if self._conf.get(k) != v)
            self._conf = now
        self.ops.append(rec)


class QueryWorkload:
    """Registry queries over a generated star schema. An operation builds
    the query (eager loops and lineage cuts run here), then runs one
    action, ``toPandas``, whose result is checked against the DuckDB
    oracle's digest."""

    final_checks = 0

    def __init__(self, spark, spec: dict):
        from mle_proj_datapipeline_spark.plans.registry import QUERIES
        from mle_proj_datapipeline_spark.sources.catalog import TABLES, source_fingerprint

        self.spark, self.spec, self.queries = spark, spec, QUERIES
        self.sf_dir = spec["sf_dir"]
        pinned = spec["fingerprints"]
        now = {t: source_fingerprint(self.sf_dir, t) for t in TABLES}
        if now != pinned:
            raise RuntimeError("input files differ from the ones the expected values were computed on")

    def warm_up(self) -> None:
        from mle_proj_datapipeline_spark.sources.catalog import load_table

        load_table(self.spark, self.sf_dir, "region").count()

    def run_pass(self, rec: Recorder, pass_no: int) -> list[dict]:
        out = []
        for name in workloads.pass_order(self.spec["queries"], self.spec["seed"], pass_no):
            r = rec.begin(name, pass_no)
            try:
                r["build_t0"] = time.time()
                with tracing.span("plans.build"):
                    df = self.queries[name](self.spark, self.sf_dir)
                r["build_t1"] = time.time()
                if rec.trace:
                    t = time.perf_counter()
                    plan = df._jdf.queryExecution().executedPlan().toString()
                    r["plan_s"] = time.perf_counter() - t
                    r["exchanges"] = sum(
                        1 for ln in plan.splitlines() if "Exchange " in ln and "Reused" not in ln
                    )
                pdf = df.toPandas()
            except Exception:
                r["error"] = traceback.format_exc(limit=3)
                pdf = None
            rec.end(r)
            if pdf is not None:
                got = list(canonical_digest(pdf))
                r["ok"] = got == self.spec["expected"][name]
                if not r["ok"]:
                    r["error"] = f"result {got} != expected {self.spec['expected'][name]}"
            out.append(r)
        return out

    def stored_bytes(self) -> tuple[int, int]:
        return dir_bytes(self.spec["warehouse"]), self.spec["input_bytes"]

    def final_check(self) -> list[str]:
        return []


class MedallionWorkload:
    """Weekly landings through the streaming medallion: silver for the
    four domain tables, then gold, then a training-window read. A pass
    is one landed week; its check compares the training read with
    counts taken from the generated rows."""

    final_checks = 2  # feature store and label store

    def __init__(self, spark, spec: dict):
        import pyarrow as pa
        from pyspark.sql.types import DateType, DoubleType, IntegerType

        from mle_proj_datapipeline_spark.plans import medallion as med
        from mle_proj_datapipeline_spark.schemas import DOMAIN_TABLES

        self.spark, self.spec, self.med = spark, spec, med
        self.root = spec["run_dir"]
        self.wh = spec["warehouse"]
        self.land = os.path.join(self.root, "landing")
        self.schemas = DOMAIN_TABLES
        arrow = {DateType: pa.date32(), DoubleType: pa.float64(), IntegerType: pa.int32()}
        self.arrow_schemas = {
            t: pa.schema([(f.name, arrow.get(type(f.dataType), pa.string())) for f in s.fields])
            for t, s in DOMAIN_TABLES.items()
        }
        self.transforms = {
            "credit_history": med.silver_credit_history,
            "demographic": med.silver_demographic,
            "financial": med.silver_financial,
            "loan_terms": med.silver_loan_terms,
        }
        self.batches = gen.weekly_batches(spec["seed"], spec["loans_per_week"], spec["revise_frac"])
        self.loans: dict[str, object] = {}  # week -> latest landed loan rows
        self.processed: dict[str, int] = {}  # week -> seq of its latest processed landing
        self.last_week = ""
        self.landed_bytes = 0
        self._pending = self._land_next()

    def _land_next(self) -> tuple[str, int]:
        landing = next(self.batches)
        week = landing.week.isoformat()
        self.landed_bytes += gen.write_landing(landing.frames, self.arrow_schemas, self.land, landing.seq)
        self.loans[week] = landing.frames["loan_terms"]
        return week, landing.seq

    def warm_up(self) -> None:
        self.spark.read.parquet(os.path.join(self.land, "loan_terms")).count()

    def _expected(self) -> tuple[int, float, int]:
        import pandas as pd

        loans = pd.concat(list(self.loans.values()), ignore_index=True)
        graded = loans[loans["grade"].notna()]
        return len(graded), round(float(graded["loan_amnt"].sum()), 2), int(graded["grade"].isin(list("DEFG")).sum())

    def run_pass(self, rec: Recorder, pass_no: int) -> list[dict]:
        import pyspark.sql.functions as F

        from mle_proj_datapipeline_spark.streaming.gold import incremental_gold
        from mle_proj_datapipeline_spark.streaming.weekly import incremental_silver

        week, seq = self._pending or self._land_next()
        self._pending = None
        end_week = max(self.loans)
        want = self._expected()
        r = rec.begin("landed_week", pass_no)
        got = None
        try:
            for t, fn in self.transforms.items():
                with tracing.span("streaming.incremental_silver"):
                    q = incremental_silver(
                        self.spark, os.path.join(self.land, t), self.schemas[t],
                        lambda df, fn=fn: fn(self.med.to_bronze(df)),
                        f"{self.wh}/silver/{t}", f"{self.wh}/checkpoints/silver/{t}",
                    )
                    q.awaitTermination()
            incremental_gold(self.spark, f"{self.wh}/silver", f"{self.wh}/gold",
                             f"{self.wh}/checkpoints/gold", gen.EMP_TITLE_TOP)
            r["build_t0"] = time.time()
            with tracing.span("plans.build"):
                tf = self.med.training_frame(self.spark, self.wh, end_week)
            r["build_t1"] = time.time()
            row = tf.agg(F.count(F.lit(1)), F.sum("loan_amnt"), F.sum("target")).collect()[0]
            got = (int(row[0]), float(row[1] or 0.0), int(row[2] or 0))
        except Exception:
            r["error"] = traceback.format_exc(limit=3)
        rec.end(r)
        self.processed[week] = seq
        self.last_week = week
        if got is not None:
            r["ok"] = got[0] == want[0] and abs(got[1] - want[1]) < 0.01 and got[2] == want[2]
            if not r["ok"]:
                r["error"] = f"training read {got} != expected {want}"
        return [r]

    def stored_bytes(self) -> tuple[int, int]:
        stored = sum(dir_bytes(f"{self.wh}/{d}") for d in ("silver", "gold", "checkpoints"))
        return stored, self.landed_bytes

    def final_check(self) -> list[str]:
        """Gold parity with the batch pipeline (``plans.medallion.run_pipeline``
        on the same landed files) for the week landed last."""
        week, seq = self.last_week, self.processed[self.last_week]
        bronze = {
            t: self.spark.read.schema(self.schemas[t]).parquet(
                os.path.join(self.land, t, f"batch_{seq:05d}.parquet"))
            for t in self.schemas
        }
        ref = os.path.join(self.root, "batch_ref")
        self.med.run_pipeline(self.spark, bronze, ref, week_start=week)
        errors = []
        for store in ("feature_store", "label_store"):
            a, b = (self.spark.read.parquet(f"{root}/{store}")
                    .filter(f"cast(snapshot_week as string) = '{week}'").toPandas()
                    for root in (f"{self.wh}/gold", f"{ref}/gold"))
            if canonical_digest(a) != canonical_digest(b):
                errors.append(f"gold {store} week {week} differs from the batch pipeline")
        return errors


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--spec", required=True)
    args = ap.parse_args()
    with open(args.spec) as fh:
        spec = json.load(fh)
    trace = bool(spec["trace"])
    out: dict = {}

    t0 = time.monotonic()
    workloads.import_plan_modules()
    out["import_s"] = time.monotonic() - t0
    if trace:
        tracing.install()
    from mle_proj_datapipeline_spark.session import get_spark

    extra = None
    if trace:
        os.makedirs(spec["event_log_dir"], exist_ok=True)
        extra = {
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + spec["event_log_dir"],
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        }
    t1 = time.monotonic()
    spark = get_spark(app_name="perfbench", extra_conf=extra)
    out["get_spark_s"] = time.monotonic() - t1
    spark.sparkContext.setLogLevel("ERROR")
    cls = MedallionWorkload if spec["workload"] == "weekly_medallion" else QueryWorkload
    t2 = time.monotonic()
    wl = cls(spark, spec)  # stages the workload's inputs: not set-up
    staging_s = time.monotonic() - t2
    wl.warm_up()
    out["setup_s"] = time.monotonic() - spec["spawn_time"] - staging_s
    rec = Recorder(spark, trace)

    seconds = spec["seconds"]
    start = time.monotonic()
    pass_s: list[float] = []
    pass_no = 0
    while True:
        warm = pass_s[1:]
        if len(warm) >= workloads.MIN_WARM_PASSES[spec["workload"]]:
            if time.monotonic() - start + statistics.median(warm) > seconds:
                break
        ops = wl.run_pass(rec, pass_no)
        pass_s.append(sum(o["m1"] - o["m0"] for o in ops))
        pass_no += 1
    out["measured_s"] = time.monotonic() - start
    out["pass_s"] = pass_s
    out["final_checks"] = wl.final_checks
    try:
        out["final_errors"] = wl.final_check()
    except Exception:
        out["final_errors"] = [traceback.format_exc(limit=3)]
    out["stored_bytes"], out["input_bytes"] = wl.stored_bytes()
    spark.stop()
    out["ops"] = rec.ops
    if trace:
        logs = [os.path.join(spec["event_log_dir"], f) for f in os.listdir(spec["event_log_dir"])]
        out["spark_ops"] = tracing.reduce_event_log(logs[0], rec.ops)
    with open(spec["result"], "w") as fh:
        json.dump(out, fh)
    return 0


if __name__ == "__main__":
    sys.exit(main())
