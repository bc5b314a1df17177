"""Layer spans around the package's public functions, and the reducer for
the Spark event log. Used only by traced runs (``--trace 1``).

Spans: every public function defined in a layer module is replaced, in
its own module and in every package module that bound it with
``from ... import``, by a wrapper that records (layer key, duration,
time covered by nested spans). Self time is a span's duration minus its
children. Spans are kept in memory per operation and reduced when the
operation ends. Functions captured before patching (default arguments,
registry dicts) keep calling the original and are not seen.

Python workers unpickle wrapped functions as plain calls: the recorder
state lives in this module, which workers import fresh and inactive.
"""

from __future__ import annotations

import contextlib
import datetime
import functools
import importlib
import json
import pkgutil
import sys
import threading
import time
from collections import defaultdict

PACKAGE = "mle_proj_datapipeline_spark"
# layer -> how spans are keyed: per defining module, or per function
LAYERS = {"operators": "module", "sources": "function", "streaming": "function"}
# Not wrapped: the benchmark spans this call together with the wait for
# its stream, which runs after the call returns.
SPANNED_BY_CALLER = frozenset({"streaming.incremental_silver"})

_lock = threading.Lock()
_active = False
# Open spans as [key, child_s], innermost last. One stack for the whole
# process: the closed-loop client runs one operation at a time, and a
# streaming foreachBatch callback runs on another thread while the
# caller waits inside its span, so the callback's spans nest under it.
_open: list[list] = []
_totals: dict[str, list[float]] = defaultdict(lambda: [0.0, 0])  # key -> [self_s, calls]


def _enter(key: str) -> list:
    frame = [key, 0.0]
    with _lock:
        _open.append(frame)
    return frame


def _exit(frame: list, dur: float) -> None:
    with _lock:
        for i in range(len(_open) - 1, -1, -1):
            if _open[i] is frame:
                del _open[i]
                if i:
                    _open[i - 1][1] += dur
                break
        tot = _totals[frame[0]]
        tot[0] += dur - frame[1]
        tot[1] += 1


@contextlib.contextmanager
def span(key: str):
    """A span opened by the benchmark itself around a layer call."""
    if not _active:
        yield
        return
    frame = _enter(key)
    t0 = time.perf_counter()
    try:
        yield
    finally:
        _exit(frame, time.perf_counter() - t0)


def _wrap(key: str, fn):
    @functools.wraps(fn)
    def wrapper(*args, **kwargs):
        if not _active:
            return fn(*args, **kwargs)
        with span(key):
            return fn(*args, **kwargs)

    return wrapper


def _package_modules() -> list:
    pkg = importlib.import_module(PACKAGE)
    for info in pkgutil.walk_packages(pkg.__path__, PACKAGE + "."):
        importlib.import_module(info.name)
    return [m for name, m in sys.modules.items() if name == PACKAGE or name.startswith(PACKAGE + ".")]


def install() -> None:
    """Wrap the public functions of the layer modules everywhere they are
    bound, except ``SPANNED_BY_CALLER``, and start recording."""
    global _active
    modules = _package_modules()
    wrappers: dict[int, tuple] = {}
    for mod in modules:
        parts = mod.__name__.split(".")
        if len(parts) < 3 or parts[1] not in LAYERS:
            continue
        layer, short = parts[1], parts[2]
        for name, obj in list(vars(mod).items()):
            if name.startswith("_") or not callable(obj) or isinstance(obj, type):
                continue
            if getattr(obj, "__module__", None) != mod.__name__ or not hasattr(obj, "__code__"):
                continue
            key = f"{layer}.{short}" if LAYERS[layer] == "module" else f"{layer}.{name}"
            if key in SPANNED_BY_CALLER:
                continue
            wrappers[id(obj)] = (obj, _wrap(key, obj))
    for mod in modules:
        for name, obj in list(vars(mod).items()):
            hit = wrappers.get(id(obj))
            if hit is not None and hit[0] is obj:
                setattr(mod, name, hit[1])
    _active = True


def take() -> dict[str, tuple[float, int]]:
    """Self time and calls per key since the last take."""
    with _lock:
        out = {k: (v[0], v[1]) for k, v in _totals.items()}
        _totals.clear()
    return out


# ------------------------------------------------------------ event log

def _intervals_cover(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
    covered, end = 0.0, lo
    for a, b in sorted(intervals):
        a, b = max(a, end), min(b, hi)
        if b > a:
            covered += b - a
            end = b
    return covered


def reduce_event_log(path: str, ops: list[dict]) -> list[dict]:
    """Per-operation Spark metrics from an uncompressed event log.

    ``ops`` holds ``{"group": job group id, "t0", "t1", "build_t0", "build_t1"}``
    (epoch seconds). A job belongs to the op whose group it carries; jobs
    started from other threads (streaming micro-batches set their own
    group) fall to the op whose time window holds their submission time.
    Streaming progress events are assigned by their trigger time."""
    job_op: dict[int, int] = {}
    stage_op: dict[int, int] = {}
    by_group = {o["group"]: i for i, o in enumerate(ops)}
    stages: dict[int, dict] = {}
    tasks: dict[int, list[dict]] = defaultdict(list)

    def op_for(group: str | None, t: float) -> int | None:
        if group in by_group:
            return by_group[group]
        for i, o in enumerate(ops):
            if o["t0"] <= t <= o["t1"]:
                return i
        return None

    out = [defaultdict(float) for _ in ops]
    with open(path) as fh:
        for line in fh:
            ev = json.loads(line)
            kind = ev.get("Event") or ""
            if kind == "SparkListenerJobStart":
                props = ev.get("Properties") or {}
                t = ev["Submission Time"] / 1000.0
                i = op_for(props.get("spark.jobGroup.id"), t)
                if i is not None:
                    job_op[ev["Job ID"]] = i
                    if ops[i].get("build_t0", 0.0) <= t <= ops[i].get("build_t1", 0.0):
                        out[i]["build_jobs"] += 1
                    for sid in ev.get("Stage IDs", []):
                        stage_op.setdefault(sid, i)
            elif kind.endswith("StreamingQueryListener$QueryProgressEvent"):
                prog = ev["progress"]
                t = datetime.datetime.fromisoformat(prog["timestamp"].replace("Z", "+00:00")).timestamp()
                i = op_for(None, t)
                if i is not None:
                    dur = prog.get("durationMs") or {}
                    rec = out[i]
                    rec["stream_batches"] += 1
                    rec["stream_input_rows"] += prog.get("numInputRows", 0)
                    for key, name in (("addBatch", "add_batch_s"), ("walCommit", "wal_commit_s"),
                                      ("queryPlanning", "query_planning_s"), ("latestOffset", "latest_offset_s")):
                        rec[f"stream_{name}"] += dur.get(key, 0) / 1e3
            elif kind == "SparkListenerStageCompleted":
                info = ev["Stage Info"]
                if "Submission Time" in info and "Completion Time" in info:
                    stages[info["Stage ID"]] = info
            elif kind == "SparkListenerTaskEnd":
                tasks[ev["Stage ID"]].append(ev)

    spans: list[list[tuple[float, float]]] = [[] for _ in ops]
    for jid, i in job_op.items():
        out[i]["jobs"] += 1
    for sid, info in stages.items():
        i = stage_op.get(sid)
        if i is None:
            continue
        rec = out[i]
        rec["stages"] += 1
        spans[i].append((info["Submission Time"] / 1000.0, info["Completion Time"] / 1000.0))
        durations = []
        for ev in tasks.get(sid, []):
            ti, tm = ev.get("Task Info", {}), ev.get("Task Metrics") or {}
            rec["tasks"] += 1
            if ti.get("Failed") or (ev.get("Task End Reason") or {}).get("Reason") != "Success":
                rec["failed_tasks"] += 1
            durations.append(ti.get("Finish Time", 0) - ti.get("Launch Time", 0))
            rec["executor_run_s"] += tm.get("Executor Run Time", 0) / 1e3
            rec["executor_cpu_s"] += tm.get("Executor CPU Time", 0) / 1e9
            rec["gc_s"] += tm.get("JVM GC Time", 0) / 1e3
            rec["spill_bytes"] += tm.get("Memory Bytes Spilled", 0) + tm.get("Disk Bytes Spilled", 0)
            sr = tm.get("Shuffle Read Metrics") or {}
            rec["shuffle_read_bytes"] += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
            rec["shuffle_fetch_wait_s"] += sr.get("Fetch Wait Time", 0) / 1e3
            rec["shuffle_write_bytes"] += (tm.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
            rec["output_bytes"] += (tm.get("Output Metrics") or {}).get("Bytes Written", 0)
            for acc in ti.get("Accumulables", []):
                name = acc.get("Name", "")
                if name == "data sent to Python workers":
                    rec["python_bytes_sent"] += float(acc.get("Update", 0))
                elif name == "data returned from Python workers":
                    rec["python_bytes_received"] += float(acc.get("Update", 0))
        if len(durations) >= 2:
            durations.sort()
            med = durations[(len(durations) - 1) // 2]
            rec["task_skew"] = max(rec["task_skew"], durations[-1] / max(med, 1))
    for i, o in enumerate(ops):
        wall = o["t1"] - o["t0"]
        covered = _intervals_cover(spans[i], o["t0"], o["t1"])
        out[i]["wall_s"] = wall
        out[i]["stage_covered_s"] = covered
        out[i]["driver_s"] = wall - covered
    return [dict(r) for r in out]
