"""Fold a Spark event log into the benchmark's per-layer metrics.

The traced run enables Spark's event log (uncompressed: the default
zstd codec needs the ``zstandard`` module) and tags every action with
``setJobDescription("fb|<pass>|<step>")``. Spark 4 writes a rolling
log, ``eventlog_v2_<app>/events_<n>_<app>``; ``read_events`` reads its
parts in order.

Three kinds of events carry what we need:

* ``SparkListenerSQLExecutionStart`` / ``...SQLAdaptiveExecutionUpdate``:
  the physical plan graph of each SQL execution (the last one is the
  final adaptive plan) with the accumulator id of every SQL metric;
* ``SparkListenerTaskEnd`` and ``...DriverAccumUpdates``: the values
  of those accumulators, plus each task's run, CPU, GC and shuffle
  numbers;
* ``SparkListenerJobStart``: which SQL execution and which tag a job
  (and so its stages and tasks) belongs to.

``fold`` groups all of it by pass; ``layer_metrics`` turns one pass
into the ``<module>.<metric>`` names of the benchmark.
"""

from __future__ import annotations

import glob
import json
import os
import re
from dataclasses import dataclass, field

TAG = "fb"
# steps whose SQL executions belong to another layer than ``plans``
APPEND_STEP = "append"  # sources.io.append_fact_store
LINEAGE_STEP = "lineage"  # first execution: the plan; the rest: manifests
CHECKPOINT_STEP = "checkpoint"  # fold_states + its parquet write

_SQL = "org.apache.spark.sql.execution.ui."
_AGGS = ("HashAggregate", "ObjectHashAggregate", "SortAggregate")
_PY = re.compile(r"(InPandas|InArrow|EvalPython)$")


def tag(pass_id: int, step: str) -> str:
    return f"{TAG}|{pass_id}|{step}"


def _untag(desc: str | None) -> tuple[int, str] | None:
    parts = (desc or "").split("|")
    if len(parts) != 3 or parts[0] != TAG:
        return None
    return int(parts[1]), parts[2]


def read_events(log_dir: str):
    """Yield the JSON events of every log under ``log_dir`` (rolling
    ``eventlog_v2_*`` directories or single files), parts in order. A
    torn last line (log not closed) is skipped."""
    parts = []
    for path in sorted(glob.glob(os.path.join(log_dir, "*"))):
        if os.path.isdir(path):
            found = glob.glob(os.path.join(path, "events_*"))
            parts += sorted(found, key=lambda p: int(os.path.basename(p).split("_")[1]))
        elif not os.path.basename(path).startswith("."):
            parts.append(path)
    for path in parts:
        with open(path) as fh:
            for line in fh:
                try:
                    yield json.loads(line)
                except json.JSONDecodeError:
                    continue


@dataclass
class Node:
    name: str
    desc: str
    metrics: dict[str, int]  # metric name -> accumulator id


@dataclass
class Execution:
    exec_id: int
    step: str
    start_ms: int
    end_ms: int = 0
    nodes: list[Node] = field(default_factory=list)  # final plan

    @property
    def seconds(self) -> float:
        return max(self.end_ms - self.start_ms, 0) / 1e3


@dataclass
class PassLog:
    executions: list[Execution] = field(default_factory=list)
    tasks: list[dict] = field(default_factory=list)  # TaskEnd "Task Metrics"


def _nodes(info: dict) -> list[Node]:
    out, todo = [], [info]
    while todo:
        n = todo.pop()
        out.append(
            Node(
                n["nodeName"],
                n.get("simpleString", ""),
                {m["name"]: m["accumulatorId"] for m in n.get("metrics", [])},
            )
        )
        todo.extend(n.get("children", []))
    return out


class Accums:
    """Accumulator id -> summed value and largest single task update."""

    def __init__(self):
        self.total: dict[int, int] = {}
        self.top: dict[int, int] = {}

    def add(self, acc_id: int, value) -> None:
        try:
            v = int(value)
        except (TypeError, ValueError):
            return
        self.total[acc_id] = self.total.get(acc_id, 0) + v
        self.top[acc_id] = max(self.top.get(acc_id, v), v)


def fold(events) -> tuple[dict[int, PassLog], Accums]:
    """Group a run's events by pass (tagged executions and tasks)."""
    passes: dict[int, PassLog] = {}
    execs: dict[int, Execution] = {}
    stage_pass: dict[int, int] = {}
    acc = Accums()
    for ev in events:
        kind = ev.get("Event", "")
        if kind == _SQL + "SparkListenerSQLExecutionStart":
            t = _untag(ev.get("description"))
            if t is None:
                continue
            ex = Execution(ev["executionId"], t[1], ev["time"])
            ex.nodes = _nodes(ev["sparkPlanInfo"])
            execs[ex.exec_id] = ex
            passes.setdefault(t[0], PassLog()).executions.append(ex)
        elif kind == _SQL + "SparkListenerSQLAdaptiveExecutionUpdate":
            ex = execs.get(ev["executionId"])
            if ex is not None:
                ex.nodes = _nodes(ev["sparkPlanInfo"])
        elif kind == _SQL + "SparkListenerSQLExecutionEnd":
            ex = execs.get(ev["executionId"])
            if ex is not None:
                ex.end_ms = ev["time"]
        elif kind == _SQL + "SparkListenerDriverAccumUpdates":
            if ev["executionId"] in execs:
                for acc_id, value in ev["accumUpdates"]:
                    acc.add(acc_id, value)
        elif kind == "SparkListenerJobStart":
            t = _untag(ev.get("Properties", {}).get("spark.job.description"))
            if t is not None:
                for sid in ev["Stage IDs"]:
                    stage_pass[sid] = t[0]
        elif kind == "SparkListenerTaskEnd":
            pid = stage_pass.get(ev["Stage ID"])
            if pid is None:
                continue
            for a in ev.get("Task Info", {}).get("Accumulables", []):
                if a.get("Metadata") == "sql":
                    acc.add(a["ID"], a.get("Update"))
            passes.setdefault(pid, PassLog()).tasks.append(
                ev.get("Task Metrics") or {}
            )
    return passes, acc


def _layer(ex: Execution, ordinal: int) -> str:
    if ex.step == APPEND_STEP:
        return "sources.io"
    if ex.step == LINEAGE_STEP and ordinal > 0:
        return "lineage"
    return "plans"


def _is_merge_read(n: Node) -> bool:
    # sources.io merge-on-read: mapInPandas(merge) over the bucket seeds
    return n.name == "MapInPandas" and n.desc.startswith("MapInPandas merge(")


def py_executor(n: Node) -> str:
    """Which plans executor a Python node belongs to."""
    if n.name.startswith("FlatMap"):
        return "cogroup"
    if "__kind" in n.desc:  # chordexec's tagged union of facts + chords
        return "chordexec"
    return "vexec"


def layer_metrics(
    log: PassLog, acc: Accums, slots: int, job_s: float
) -> tuple[dict[str, float], dict[str, float]]:
    """Per-layer metrics of one pass, and the Python run seconds per
    plans executor. Plan-shape counts are exact counts of nodes in the
    final plans of the pass's ``plans`` executions; the rest sums SQL
    metrics and task metrics."""

    def total(n: Node, metric: str) -> int:
        i = n.metrics.get(metric)
        return acc.total.get(i, 0) if i is not None else 0

    def top(n: Node, metric: str) -> int:
        i = n.metrics.get(metric)
        return acc.top.get(i, 0) if i is not None else 0

    m = dict.fromkeys(
        [
            "plans.scans", "plans.exchanges", "plans.joins", "plans.python_nodes",
            "plans.py_bytes_sent", "plans.py_bytes_returned", "plans.py_rows_out",
            "plans.py_start_s", "plans.py_init_s", "plans.py_run_s",
            "plans.agg_build_s", "plans.agg_peak_mem_mb", "plans.agg_spill_bytes",
            "exchange.broadcast_bytes",
            "sources.io.scan_rows", "sources.io.scan_bytes", "sources.io.scan_s",
            "sources.io.write_s", "sources.io.bytes_written",
            "plans.resume.delta_rows", "plans.resume.state_rows",
            "plans.resume.checkpoint_bytes",
            "lineage.manifest_s", "lineage.extra_scans",
        ],
        0,
    )
    by_executor: dict[str, float] = {}
    ordinal: dict[str, int] = {}
    for ex in sorted(log.executions, key=lambda e: e.exec_id):
        k = ordinal[ex.step] = ordinal.get(ex.step, -1) + 1
        layer = _layer(ex, k)
        if layer == "lineage":
            m["lineage.manifest_s"] += ex.seconds
        for n in ex.nodes:
            is_scan = n.name.startswith("Scan") or n.name == "BatchScan"
            if layer == "plans":
                m["plans.scans"] += is_scan
                m["plans.exchanges"] += n.name in ("Exchange", "BroadcastExchange")
                m["plans.joins"] += "Join" in n.name or n.name == "CartesianProduct"
            elif layer == "lineage":
                m["lineage.extra_scans"] += is_scan
            if n.name == "BroadcastExchange":
                m["exchange.broadcast_bytes"] += total(n, "data size")
            if n.name.startswith("Scan parquet"):
                m["sources.io.scan_rows"] += total(n, "number of output rows")
                m["sources.io.scan_bytes"] += total(n, "size of files read")
                m["sources.io.scan_s"] += total(n, "scan time") / 1e3
            if n.name.startswith("Execute InsertIntoHadoopFsRelationCommand"):
                m["sources.io.write_s"] += (
                    total(n, "task commit time") + total(n, "job commit time")
                ) / 1e3
                m["sources.io.bytes_written"] += total(n, "written output")
                if ex.step == APPEND_STEP:
                    m["plans.resume.delta_rows"] += total(n, "number of output rows")
                if ex.step == CHECKPOINT_STEP:
                    m["plans.resume.state_rows"] += total(n, "number of output rows")
                    m["plans.resume.checkpoint_bytes"] += total(n, "written output")
            if _PY.search(n.name):
                if _is_merge_read(n):
                    m["sources.io.scan_rows"] += total(n, "number of output rows")
                    m["sources.io.scan_bytes"] += total(
                        n, "data returned from Python workers"
                    )
                    m["sources.io.scan_s"] += total(n, "time to run Python workers") / 1e3
                elif layer == "plans":
                    m["plans.python_nodes"] += 1
                    run_s = total(n, "time to run Python workers") / 1e3
                    key = py_executor(n)
                    by_executor[key] = by_executor.get(key, 0.0) + run_s
                    m["plans.py_bytes_sent"] += total(n, "data sent to Python workers")
                    m["plans.py_bytes_returned"] += total(
                        n, "data returned from Python workers"
                    )
                    m["plans.py_rows_out"] += total(n, "number of output rows")
                    m["plans.py_start_s"] += total(n, "time to start Python workers") / 1e3
                    m["plans.py_init_s"] += (
                        total(n, "time to initialize Python workers") / 1e3
                    )
                    m["plans.py_run_s"] += run_s
            if n.name in _AGGS and layer == "plans":
                m["plans.agg_build_s"] += total(n, "time in aggregation build") / 1e3
                m["plans.agg_peak_mem_mb"] = max(
                    m["plans.agg_peak_mem_mb"], top(n, "peak memory") / 2**20
                )
                m["plans.agg_spill_bytes"] += total(n, "spill size")

    run_ms = cpu_ns = gc_ms = sh_bytes = sh_recs = sh_write_ns = fetch_ms = 0
    for t in log.tasks:
        run_ms += t.get("Executor Run Time", 0)
        cpu_ns += t.get("Executor CPU Time", 0)
        gc_ms += t.get("JVM GC Time", 0)
        w = t.get("Shuffle Write Metrics", {})
        sh_bytes += w.get("Shuffle Bytes Written", 0)
        sh_recs += w.get("Shuffle Records Written", 0)
        sh_write_ns += w.get("Shuffle Write Time", 0)
        fetch_ms += t.get("Shuffle Read Metrics", {}).get("Fetch Wait Time", 0)
    m.update(
        {
            "exchange.bytes": sh_bytes,
            "exchange.records": sh_recs,
            "exchange.write_s": sh_write_ns / 1e9,
            "exchange.fetch_wait_s": fetch_ms / 1e3,
            "tasks.count": len(log.tasks),
            "tasks.run_s": run_ms / 1e3,
            "tasks.cpu_s": cpu_ns / 1e9,
            "tasks.gc_s": gc_ms / 1e3,
            "tasks.busy_frac": (run_ms / 1e3) / (job_s * slots) if job_s else 0.0,
        }
    )
    return {k: float(v) for k, v in m.items()}, by_executor
