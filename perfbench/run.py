"""Repository benchmark: run one workload with one seed, check every
result, print the metrics.

    python3 perfbench/run.py --workload analytics --seed 1 --seconds 10 --trace 0

Workloads: ``analytics``, ``llm_corpus`` and ``weekly_medallion`` (see
``workloads.py``). The inputs are generated from ``--seed`` into a
scratch directory under ``.perfbench/`` in the checkout, which is
removed afterwards. The measured process is ``worker.py`` on
``local[<nproc>]``; this process generates the inputs, computes the
expected results, samples the resident memory of the worker's process
tree, and reduces the worker's record.

``--trace 0`` prints the end-to-end metrics; ``--trace 1`` turns on the
Spark event log, job groups and layer spans, and prints the per-layer
metrics. The last line of standard output is one JSON object:
``{"correct", "attempted", "failed", "metrics"}``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if ROOT not in sys.path:
    sys.path.insert(0, ROOT)

from perfbench import workloads  # noqa: E402

PACKAGE_DIR = os.path.join(ROOT, "mle_proj_datapipeline_spark")
DEADLINE_S = 170.0  # the worker is killed past this; a run must end within 180 s
TAIL_LADDER = (99, 95, 90, 75, 50)


def _process_group(pgid: int) -> list[int]:
    pids = []
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as fh:
                fields = fh.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        if int(fields[2]) == pgid:
            pids.append(int(entry))
    return pids


def _group_rss_bytes(pgid: int) -> int:
    page = os.sysconf("SC_PAGE_SIZE")
    total = 0
    for pid in _process_group(pgid):
        try:
            with open(f"/proc/{pid}/statm") as fh:
                total += int(fh.read().split()[1]) * page
        except OSError:
            continue
    return total


def _stop_group(pgid: int) -> None:
    """Kill what is left of the worker's process group and wait until
    every member has exited."""
    for sig in (signal.SIGTERM, signal.SIGKILL):
        try:
            os.killpg(pgid, sig)
        except ProcessLookupError:
            return
        for _ in range(50):
            if not _process_group(pgid):
                return
            time.sleep(0.1)


def tail(latencies: list[float]) -> tuple[float, int]:
    """The highest percentile on the ladder with at least ten samples
    beyond it (linear interpolation); the maximum when there are fewer
    than twenty samples. Returns (value, percentile)."""
    xs = sorted(latencies)
    n = len(xs)
    for p in TAIL_LADDER:
        if n * (100 - p) / 100 >= 10:
            pos = (n - 1) * p / 100
            lo = int(pos)
            hi = min(lo + 1, n - 1)
            return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo), p
    return xs[-1], 100


def _per_pass_median(ops: list[dict], values: list[dict], key: str) -> float:
    """Median over warm passes of the per-pass sum of ``key``."""
    sums: dict[int, float] = {}
    for o, v in zip(ops, values):
        if o["pass"] > 0:
            sums[o["pass"]] = sums.get(o["pass"], 0.0) + float(v.get(key, 0.0))
    return statistics.median(sums.values()) if sums else 0.0


def run_figures(rec: dict, peak_rss: int) -> dict[str, float]:
    """End-to-end figures of one run, and the two run-level figures that
    are reported without a bound."""
    warm = [o for o in rec["ops"] if o["pass"] > 0]
    lat = [o["m1"] - o["m0"] for o in warm]
    first = {o["name"]: o["m1"] - o["m0"] for o in rec["ops"] if o["pass"] == 0}
    by_name: dict[str, list[float]] = {}
    for o in warm:
        by_name.setdefault(o["name"], []).append(o["m1"] - o["m0"])
    for name, xs in sorted(by_name.items(), key=lambda kv: -statistics.median(kv[1])):
        print(f"# {name}: first {first.get(name, 0.0):.3f} s, warm median {statistics.median(xs):.3f} s over {len(xs)}")
    tail_s, tail_p = tail(lat)
    print(f"# run.latency_tail_s {tail_s:.4f} s is p{tail_p} of {len(lat)} warm operations; "
          f"{len(rec['pass_s']) - 1} warm passes in {rec['measured_s']:.1f} s")
    return {
        "setup_s": rec["setup_s"],
        "first_pass_s": rec["pass_s"][0],
        "wall_s": statistics.median(rec["pass_s"][1:]),
        "latency_p50_s": statistics.median(lat),
        "run.latency_tail_s": tail_s,
        "run.peak_rss_mb": peak_rss / 2**20,
    }


def per_layer(rec: dict) -> dict[str, float]:
    ops, sp = rec["ops"], rec["spark_ops"]
    flat = []
    for o, k in zip(ops, sp):
        s = o.get("spans", {})
        row = {f"spark.{name}": v for name, v in k.items()}
        for key, (self_s, calls) in s.items():
            row[f"{key}.s"] = self_s
            row[f"{key}.calls"] = calls
        row["plans.build_s"] = s.get("plans.build", (0.0, 0))[0]
        row["plans.plan_s"] = o.get("plan_s", 0.0)
        row["plans.exchanges"] = o.get("exchanges", 0)
        row["plans.build_jobs"] = k.get("build_jobs", 0)
        row["sources.leaked_rdds"] = o.get("leaked_rdds", 0)
        row["sources.written_bytes"] = k.get("output_bytes", 0)
        row["trace.wall_s"] = o["m1"] - o["m0"]
        for name in workloads.STREAMING_PROGRESS:
            row[f"streaming.{name}"] = k.get(f"stream_{name}", 0)
        flat.append(row)
    out = {}
    for name in workloads.per_layer_metrics():
        if name.startswith("run."):
            continue  # from run_figures
        if name == "spark.stage_coverage":
            wall = _per_pass_median(ops, flat, "trace.wall_s")
            drv = _per_pass_median(ops, flat, "spark.driver_s")
            out[name] = 1.0 - drv / wall if wall else 0.0
        elif name == "spark.task_skew":
            worst: dict[int, float] = {}
            for o, r in zip(ops, flat):
                if o["pass"] > 0:
                    worst[o["pass"]] = max(worst.get(o["pass"], 0.0), r.get(name, 0.0))
            out[name] = statistics.median(worst.values()) if worst else 0.0
        else:
            out[name] = _per_pass_median(ops, flat, name)
    out["session.import_s"] = rec["import_s"]
    out["session.get_spark_s"] = rec["get_spark_s"]
    out["session.conf_changes"] = sum(o.get("conf_changes", 0) for o in ops)
    out["sources.stored_bytes_per_input_byte"] = rec["stored_bytes"] / rec["input_bytes"]
    return out


def prepare(args, run_dir: str) -> dict:
    """Generate the inputs and the expected results; returns the worker spec."""
    from perfbench import gen

    spec = {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "run_dir": run_dir,
        "warehouse": os.path.join(run_dir, "warehouse"),
        "event_log_dir": os.path.join(run_dir, "eventlog"),
        "result": os.path.join(run_dir, "result.json"),
    }
    if args.workload == "weekly_medallion":
        spec.update(loans_per_week=workloads.LOANS_PER_WEEK, revise_frac=workloads.REVISE_FRAC)
        return spec
    from perfbench.oracle import expected_digests

    from mle_proj_datapipeline_spark.sources.catalog import TABLES, source_fingerprint

    spec["queries"] = workloads.QUERY_SETS[args.workload]
    sf_dir = os.path.join(run_dir, "input")
    spec["input_bytes"] = gen.write_star_schema(args.seed, workloads.SF, sf_dir)
    spec["sf_dir"] = sf_dir
    spec["fingerprints"] = {t: source_fingerprint(sf_dir, t) for t in TABLES}
    workloads.import_plan_modules()
    spec["expected"] = expected_digests(sf_dir, spec["queries"])
    return spec


def run_worker(spec: dict, run_dir: str, deadline: float) -> tuple[dict, int]:
    """Run the worker in its own process group; returns its record and
    the peak resident bytes of the group."""
    nproc = len(os.sched_getaffinity(0))
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp)
    env = dict(os.environ)
    env.update({
        # keep the JVM's and Python's scratch files inside the run directory
        "TMPDIR": tmp,
        "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        "PYTHONPATH": os.pathsep.join([ROOT] + [p for p in [env.get("PYTHONPATH")] if p]),
        "PYSPARK_PYTHON": sys.executable,
        "SPARK_GRAFT_CPUS": str(nproc),
        "SPARK_GRAFT_WAREHOUSE": spec["warehouse"],
        "SPARK_LOCAL_DIRS": os.path.join(run_dir, "local"),
    })
    spec_path = os.path.join(run_dir, "spec.json")
    log_path = os.path.join(run_dir, "worker.log")
    spec["spawn_time"] = time.monotonic()
    with open(spec_path, "w") as fh:
        json.dump(spec, fh)
    with open(log_path, "w") as log:
        proc = subprocess.Popen(
            [sys.executable, os.path.join(ROOT, "perfbench", "worker.py"), "--spec", spec_path],
            cwd=run_dir, env=env, stdout=log, stderr=subprocess.STDOUT, start_new_session=True,
        )
        peak = 0
        try:
            while proc.poll() is None:
                peak = max(peak, _group_rss_bytes(proc.pid))
                if time.monotonic() > deadline:
                    proc.kill()
                time.sleep(0.2)
        finally:
            _stop_group(proc.pid)
            proc.wait()
    if proc.returncode != 0 or not os.path.exists(spec["result"]):
        with open(log_path) as fh:
            sys.stderr.write(fh.read()[-4000:])
        raise RuntimeError(f"worker exited with code {proc.returncode}")
    with open(spec["result"]) as fh:
        return json.load(fh), peak


def measure(args, deadline: float) -> tuple[dict, int]:
    """Prepare the inputs, run the worker, and return its record with the
    peak resident bytes of its process tree. Raises RuntimeError when the
    worker fails to produce a record."""
    run_dir = os.path.join(ROOT, ".perfbench", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    try:
        spec = prepare(args, run_dir)
        return run_worker(spec, run_dir, deadline)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(run_dir))
        except OSError:
            pass  # another run is still using it


def report(rec: dict, peak: int, trace: bool) -> dict:
    """The result object: correctness counts and the metrics of the mode."""
    failures = [o for o in rec["ops"] if not o["ok"]]
    for o in failures[:5]:
        print(f"# FAILED {o['name']} (pass {o['pass']}): {o.get('error', '').strip()}")
    for err in rec["final_errors"]:
        print(f"# FAILED final check: {err}")
    attempted = len(rec["ops"]) + rec["final_checks"]
    failed = len(failures) + len(rec["final_errors"])
    values = run_figures(rec, peak)
    print(f"# run.peak_rss_mb {values['run.peak_rss_mb']:.1f} MB")
    units = workloads.END_TO_END
    if trace:
        values.update(per_layer(rec))
        units = workloads.per_layer_metrics()
    metrics = {k: {"value": values[k], "unit": units[k]} for k in units}
    return {"correct": failed == 0, "attempted": attempted, "failed": failed, "metrics": metrics}


def _terminate(signum, frame):
    raise SystemExit(128 + signum)  # unwinds through the clean-up in run_worker


def main() -> int:
    started = time.monotonic()
    signal.signal(signal.SIGTERM, _terminate)
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True, choices=workloads.WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    if not os.path.isdir(PACKAGE_DIR):
        print(f"error: {PACKAGE_DIR} not found; run from a checkout of the repository", file=sys.stderr)
        return 2
    try:
        rec, peak = measure(args, started + DEADLINE_S)
    except RuntimeError as exc:
        print(f"error: {exc}", file=sys.stderr)
        return 1
    print(json.dumps(report(rec, peak, bool(args.trace))))
    return 0


if __name__ == "__main__":
    sys.exit(main())
