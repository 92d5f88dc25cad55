"""Capture the small event log that test_eventlog.py folds.

    python3 featbench/tests/make_fixture.py

Runs one tiny pass of each workload (pass 0 snapshot_audit, pass 1
chord_training_set, pass 2 daily_refresh) through engine.Workload with
the event log on, then keeps only the events and fields eventlog.fold
reads, in ``tests/data/eventlog/eventlog_v2_fixture/events_<n>_fixture``
(split in two parts, like a rolled log).
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
OUT = os.path.join(HERE, "data", "eventlog", "eventlog_v2_fixture")

_KEEP_TASK = ("Executor Run Time", "Executor CPU Time", "JVM GC Time",
              "Shuffle Write Metrics", "Shuffle Read Metrics")


def _plan(info: dict, tmp: str) -> dict:
    # file paths of the capture's scratch directory become /fixture
    desc = info.get("simpleString", "").replace(tmp, "/fixture")
    return {"nodeName": info["nodeName"],
            "simpleString": desc[:200],
            "metrics": info.get("metrics", []),
            "children": [_plan(c, tmp) for c in info.get("children", [])]}


def _trim(ev: dict, tmp: str) -> dict | None:
    kind = ev["Event"]
    if kind.endswith(("SQLExecutionStart", "SQLAdaptiveExecutionUpdate")):
        keep = ("Event", "executionId", "description", "time")
        return {**{k: ev[k] for k in keep if k in ev},
                "sparkPlanInfo": _plan(ev["sparkPlanInfo"], tmp)}
    if kind.endswith(("SQLExecutionEnd", "DriverAccumUpdates")):
        return ev
    if kind == "SparkListenerJobStart":
        desc = ev.get("Properties", {}).get("spark.job.description")
        return {"Event": kind, "Job ID": ev["Job ID"], "Stage IDs": ev["Stage IDs"],
                "Properties": {"spark.job.description": desc}}
    if kind == "SparkListenerTaskEnd":
        info = ev.get("Task Info", {})
        return {"Event": kind, "Stage ID": ev["Stage ID"],
                "Task Info": {"Accumulables": [
                    {k: a[k] for k in ("ID", "Update", "Metadata") if k in a}
                    for a in info.get("Accumulables", []) if a.get("Metadata") == "sql"]},
                "Task Metrics": {k: v for k, v in (ev.get("Task Metrics") or {}).items()
                                 if k in _KEEP_TASK}}
    return None


def main() -> int:
    sys.path[:0] = [ROOT, BENCH]
    os.environ["PYTHONPATH"] = ROOT + os.pathsep + os.environ.get("PYTHONPATH", "")
    import engine
    import eventlog
    import gen
    from icicle_spark.session import get_spark
    from icicle_spark.source_lang import parse_program

    tmp = tempfile.mkdtemp(dir=os.path.join(ROOT, ".featbench"))
    try:
        ev_dir = os.path.join(tmp, "ev")
        os.makedirs(ev_dir)
        spark = get_spark(app_name="featbench_fixture", cpus=2, shuffle_partitions=4,
                          extra_conf={"spark.eventLog.enabled": "true",
                                      "spark.eventLog.dir": ev_dir,
                                      "spark.eventLog.compress": "false"})
        spark.sparkContext.setLogLevel("ERROR")
        gen.SIZES.update({w: {"n_rows": 3000, "n_docs": 150} for w in gen.SIZES})
        tr = engine.Tracer(True)
        tr.sc = spark.sparkContext
        for i, w in enumerate(("snapshot_audit", "chord_training_set", "daily_refresh")):
            gen.ensure(tmp, w, 7)
            p = engine._paths(tmp, gen.input_dir(tmp, w, 7),
                              os.path.join(tmp, f"work_{w}"), engine.DICTIONARIES[w])
            plan = parse_program(engine.DICTIONARIES[w], dialect="sql",
                                 **engine.COLS)["facts"]
            if w == "daily_refresh":
                engine.stage_daily(spark, plan, p)
            wl = engine.Workload(w, spark, plan, p, tr)
            wl.prepare()
            tr.run_id = str(i)
            wl.run()
        engine._shutdown(spark)
        events = [e for e in (_trim(ev, tmp) for ev in eventlog.read_events(ev_dir))
                  if e is not None]
        # fold reads only the last plan of an execution
        last = {e["executionId"]: i for i, e in enumerate(events)
                if "sparkPlanInfo" in e}
        events = [e for i, e in enumerate(events)
                  if not e["Event"].endswith("SQLAdaptiveExecutionUpdate")
                  or last[e["executionId"]] == i]
        shutil.rmtree(OUT, ignore_errors=True)
        os.makedirs(OUT)
        half = len(events) // 2
        for n, chunk in ((1, events[:half]), (2, events[half:])):
            with open(os.path.join(OUT, f"events_{n}_fixture"), "w") as fh:
                fh.writelines(json.dumps(e) + "\n" for e in chunk)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
