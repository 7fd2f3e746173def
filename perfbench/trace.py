"""Tracing for the traced run.

Spans are recorded from outside the program, around calls into the
package's layers: the benchmark wraps the calls it makes itself
(query builders, query execution, ``run_sync``) and, for the length of
the traced block only, patches the names the package resolves at call
time (``load_table`` in every module that imported it, the names
``streaming.incremental`` imported, and the ``ControlTables``
methods). Each span runs under its own Spark job group, so the Spark
event log ties every job, stage and task to the span that started it.

Spans live in memory (name, start, end, parent, run id) and are
written out with the rest of the trace when the run ends.
"""

from __future__ import annotations

import contextlib
import glob
import json
import os
import statistics
import sys
import time
from collections import defaultdict

PKG = "reverse_etl_homebrew_spark"

#: ControlTables methods wrapped in the traced run, by span name
CONTROL_METHODS = {
    "ensure": "control.ensure",
    "read_high_watermark": "control.read_watermark",
    "ledger": "control.ledger",
    "dlq": "control.dlq",
    "idmap": "control.idmap",
    "append_dlq": "control.dlq_append",
    "append_ledger_row": "control.ledger_append",
}


class Tracer:
    """Nested spans on the calling thread. With a SparkContext, each
    span sets the job group ``pb<span id>`` while it is open."""

    def __init__(self, sc=None):
        self.sc = sc
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self.run = "setup"
        #: seconds spent in span bookkeeping (job-group calls included)
        self.overhead_s = 0.0

    def _group(self) -> None:
        if self.sc is None:
            return
        if self._stack:
            sid = self._stack[-1]
            self.sc.setJobGroup(f"pb{sid}", self.spans[sid]["name"])
        else:
            self.sc.setLocalProperty("spark.jobGroup.id", None)

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        t0 = time.perf_counter()
        sid = len(self.spans)
        rec = {
            "id": sid,
            "name": name,
            "parent": self._stack[-1] if self._stack else None,
            "run": self.run,
            "start": time.time(),
            "end": None,
            **attrs,
        }
        self.spans.append(rec)
        self._stack.append(sid)
        self._group()
        self.overhead_s += time.perf_counter() - t0
        try:
            yield rec
        finally:
            t1 = time.perf_counter()
            rec["end"] = time.time()
            self._stack.pop()
            self._group()
            self.overhead_s += time.perf_counter() - t1

    def wrap(self, name: str, fn):
        def traced(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)

        return traced


@contextlib.contextmanager
def no_span(name: str, **attrs):
    yield None


@contextlib.contextmanager
def patched(tracer: Tracer):
    """Route the package's layer entry points through ``tracer`` for
    the duration of the block; every original is restored on exit."""
    from reverse_etl_homebrew_spark.sinks.control import ControlTables
    from reverse_etl_homebrew_spark.sources import catalog
    from reverse_etl_homebrew_spark.streaming import incremental

    undo = []

    def setattr_undo(obj, attr, value):
        undo.append((obj, attr, getattr(obj, attr)))
        setattr(obj, attr, value)

    load_table = catalog.load_table
    traced_load = tracer.wrap("sources.load_table", load_table)
    for mod_name, mod in list(sys.modules.items()):
        if mod_name.startswith(PKG) and getattr(mod, "load_table", None) is load_table:
            setattr_undo(mod, "load_table", traced_load)
    setattr_undo(incremental, "write_plan", tracer.wrap("sinks.write_plan", incremental.write_plan))
    setattr_undo(incremental, "read_results", tracer.wrap("sinks.read_results", incremental.read_results))
    builders = dict(incremental.PLAN_BUILDERS)
    for job, fn in builders.items():
        incremental.PLAN_BUILDERS[job] = tracer.wrap("plans.build", fn)
    for method, name in CONTROL_METHODS.items():
        setattr_undo(ControlTables, method, tracer.wrap(name, getattr(ControlTables, method)))
    merge = ControlTables.merge_idmap

    def merge_idmap(self, incoming):
        with tracer.span("control.idmap_merge") as rec:
            merge(self, incoming)
        # the merge rewrites the whole map: every row is written again
        t0 = time.perf_counter()
        rec["rows_written"] = parquet_rows(self.paths["id_map"])
        tracer.overhead_s += time.perf_counter() - t0

    setattr_undo(ControlTables, "merge_idmap", merge_idmap)
    try:
        yield
    finally:
        incremental.PLAN_BUILDERS.update(builders)
        for obj, attr, value in reversed(undo):
            setattr(obj, attr, value)


def parquet_rows(path: str) -> int:
    """Rows in a parquet directory, from the file footers."""
    import pyarrow.parquet as pq

    if not os.path.isdir(path):
        return 0
    return sum(
        pq.ParquetFile(os.path.join(path, f)).metadata.num_rows
        for f in os.listdir(path)
        if f.endswith(".parquet")
    )


# ---- event log ---------------------------------------------------------------

_PY_TIME = "time to run Python workers"
_PY_SENT = "data sent to Python workers"
_PY_RETURNED = "data returned from Python workers"


def read_event_log(event_dir: str) -> dict:
    """Jobs, stages, tasks and SQL plans from the uncompressed,
    non-rolling JSON event log of the last application logged to
    ``event_dir`` (the session the workload ran in), keyed by the job
    group that started them."""
    jobs: dict[int, dict] = {}
    stage_group: dict[int, str] = {}
    tasks: list[dict] = []
    plans: dict[int, dict] = {}
    # local application ids are "local-<start ms>": the last sorts last
    path = sorted(glob.glob(os.path.join(event_dir, "local-*")))[-1]
    with open(path) as f:
        for line in f:
            e = json.loads(line)
            kind = e["Event"]
            if kind == "SparkListenerJobStart":
                props = e.get("Properties") or {}
                jobs[e["Job ID"]] = {
                    "group": props.get("spark.jobGroup.id"),
                    "start": e["Submission Time"] / 1000.0,
                    "end": None,
                }
            elif kind == "SparkListenerJobEnd":
                if e["Job ID"] in jobs:
                    jobs[e["Job ID"]]["end"] = e["Completion Time"] / 1000.0
            elif kind == "SparkListenerStageSubmitted":
                props = e.get("Properties") or {}
                stage_group[e["Stage Info"]["Stage ID"]] = props.get("spark.jobGroup.id")
            elif kind == "SparkListenerTaskEnd":
                tasks.append(_task(e))
            elif kind.endswith("SparkListenerSQLExecutionStart"):
                plans[e["executionId"]] = {"group": e.get("jobGroupId"), "plan": e["sparkPlanInfo"]}
            elif kind.endswith("SparkListenerSQLAdaptiveExecutionUpdate"):
                if e["executionId"] in plans:
                    plans[e["executionId"]]["plan"] = e["sparkPlanInfo"]
    for t in tasks:
        t["group"] = stage_group.get(t["stage"])
    return {"jobs": jobs, "tasks": tasks, "plans": plans}


def _task(e: dict) -> dict:
    info, m = e["Task Info"], e.get("Task Metrics") or {}
    acc = {}
    for a in info.get("Accumulables", []):
        if a.get("Name") in (_PY_TIME, _PY_SENT, _PY_RETURNED):
            acc[a["Name"]] = acc.get(a["Name"], 0) + int(a.get("Update") or 0)
    sr = m.get("Shuffle Read Metrics") or {}
    return {
        "stage": e["Stage ID"],
        "duration": (info["Finish Time"] - info["Launch Time"]) / 1000.0,
        "run_s": m.get("Executor Run Time", 0) / 1000.0,
        "cpu_s": m.get("Executor CPU Time", 0) / 1e9,
        "gc_s": m.get("JVM GC Time", 0) / 1000.0,
        "scan_bytes": (m.get("Input Metrics") or {}).get("Bytes Read", 0),
        "shuffle_read_bytes": sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0),
        "shuffle_write_bytes": (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0),
        "spill_bytes": m.get("Disk Bytes Spilled", 0),
        # Spark reports the Python worker time as a nanosecond metric
        "python_s": acc.get(_PY_TIME, 0) / 1e9,
        "python_sent": acc.get(_PY_SENT, 0),
        "python_returned": acc.get(_PY_RETURNED, 0),
    }


def count_nodes(plan: dict, name: str) -> int:
    return int(plan.get("nodeName") == name) + sum(
        count_nodes(c, name) for c in plan.get("children", [])
    )


# ---- spans -> metrics --------------------------------------------------------


def self_times(spans: list[dict]) -> dict[int, float]:
    """Span duration minus the part its children cover. Children run
    on the same thread, one after another, so they never overlap."""
    child = defaultdict(float)
    for s in spans:
        if s["parent"] is not None:
            child[s["parent"]] += s["end"] - s["start"]
    return {s["id"]: (s["end"] - s["start"]) - child[s["id"]] for s in spans}


def ancestors(spans: list[dict]) -> dict[int, list[int]]:
    """Span id -> ids on the path from that span up to its root, the
    span first. A parent is opened before its children, so it comes
    first in ``spans``."""
    up: dict[int, list[int]] = {}
    for s in spans:
        up[s["id"]] = [s["id"], *(up[s["parent"]] if s["parent"] is not None else ())]
    return up


def _union_s(intervals: list[tuple[float, float]]) -> float:
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def _skew(durations: list[float]) -> float:
    med = statistics.median(durations)
    return max(durations) / max(med, 0.001)


def run_metrics(spans: list[dict], log: dict, run) -> dict:
    """Per-layer figures of one iteration (spans whose run id is
    ``run``): calls, self seconds and jobs per span name (``.jobs``
    counts jobs started inside the span, nested spans included), and
    the event-log execution metrics of every job the iteration's
    operations started. Jobs of ``verify`` spans (the benchmark's own
    output checks) are left out."""
    mine = [s for s in spans if s["run"] == run]
    by_id = {s["id"]: s for s in spans}
    up = ancestors(spans)
    own = {f"pb{s['id']}": s for s in mine if s["name"] != "verify"}
    selfs = self_times(mine)

    out: dict[str, float] = defaultdict(float)
    for s in mine:
        out[f"{s['name']}.calls"] += 1
        out[f"{s['name']}.self_s"] += selfs[s["id"]]

    jobs = [j for j in log["jobs"].values() if j["group"] in own and j["end"] is not None]
    for j in jobs:
        for name in {by_id[a]["name"] for a in up[own[j["group"]]["id"]]}:
            out[f"{name}.jobs"] += 1

    tasks = [t for t in log["tasks"] if t["group"] in own]
    stages = defaultdict(list)
    for t in tasks:
        stages[t["stage"]].append(t["duration"])
    widest = max(stages.values(), key=len) if stages else [0.0]
    out.update(
        {
            "exec.s": _union_s([(j["start"], j["end"]) for j in jobs]),
            "exec.jobs": len(jobs),
            "exec.stages": len(stages),
            "exec.tasks": len(tasks),
            "exec.task_skew": _skew(widest),
            "plan.arrow_eval_python_nodes": sum(
                count_nodes(p["plan"], "ArrowEvalPython")
                for p in log["plans"].values()
                if p["group"] in own
            ),
        }
    )
    for key, field in (
        ("exec.executor_run_s", "run_s"),
        ("exec.executor_cpu_s", "cpu_s"),
        ("exec.gc_s", "gc_s"),
        ("exec.scan_bytes", "scan_bytes"),
        ("exec.shuffle_read_bytes", "shuffle_read_bytes"),
        ("exec.shuffle_write_bytes", "shuffle_write_bytes"),
        ("exec.spill_bytes", "spill_bytes"),
        ("exec.python_worker_s", "python_s"),
        ("exec.python_bytes_sent", "python_sent"),
        ("exec.python_bytes_returned", "python_returned"),
    ):
        out[key] = sum(t[field] for t in tasks)
    out["sinks.write_tasks"] = sum(
        1 for t in tasks if own[t["group"]]["name"] == "sinks.write_plan"
    )
    return dict(out)


def key_table(spans: list[dict], log: dict, runs) -> dict:
    """Per query key: builder seconds and jobs (inclusive of nested
    spans), execution seconds and jobs, ArrowEvalPython nodes —
    medians over the traced iterations."""
    up = ancestors(spans)
    subtree_jobs = defaultdict(int)
    for j in log["jobs"].values():
        if (j["group"] or "").startswith("pb"):
            for a in up.get(int(j["group"][2:]), ()):
                subtree_jobs[a] += 1
    group_py = defaultdict(int)
    for p in log["plans"].values():
        group_py[p["group"]] += count_nodes(p["plan"], "ArrowEvalPython")

    rows = defaultdict(lambda: defaultdict(list))
    for s in spans:
        if s["run"] in runs and s["name"] in ("queries.build", "queries.execute"):
            kind = "build" if s["name"] == "queries.build" else "execute"
            row = rows[s["key"]]
            row[f"{kind}_s"].append(s["end"] - s["start"])
            row[f"{kind}_jobs"].append(subtree_jobs[s["id"]])
            if kind == "execute":
                row["arrow_eval_python_nodes"].append(group_py.get(f"pb{s['id']}", 0))
    return {k: {f: statistics.median(v) for f, v in row.items()} for k, row in rows.items()}
