"""eventlog.fold / layer_metrics against a small captured event log.

The log (tests/data/eventlog, made by make_fixture.py) holds one tiny
pass of each workload: pass 0 snapshot_audit, pass 1
chord_training_set, pass 2 daily_refresh.

    python3 -m pytest featbench/tests -q
"""

from __future__ import annotations

import json
import os
import shutil
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

import eventlog  # noqa: E402

LOG = os.path.join(HERE, "data", "eventlog")
SNAPSHOT, CHORDS, REFRESH = 0, 1, 2


@pytest.fixture(scope="module")
def folded():
    return eventlog.fold(eventlog.read_events(LOG))


def metrics(folded, pass_id):
    passes, acc = folded
    return eventlog.layer_metrics(passes[pass_id], acc, slots=2, job_s=1.0)


def test_rolled_parts_read_in_order_and_torn_line_skipped(tmp_path):
    events = list(eventlog.read_events(LOG))
    parts = []
    for n in (1, 2):
        with open(os.path.join(LOG, "eventlog_v2_fixture", f"events_{n}_fixture")) as fh:
            parts += [json.loads(line) for line in fh]
    assert events == parts
    copy = tmp_path / "log"
    shutil.copytree(LOG, copy)
    part = copy / "eventlog_v2_fixture" / "events_2_fixture"
    with open(part, "a") as fh:
        fh.write('{"Event": "SparkListenerTaskEnd", "Stage')
    assert list(eventlog.read_events(str(copy))) == events


def test_every_pass_found(folded):
    passes, _ = folded
    assert sorted(passes) == [SNAPSHOT, CHORDS, REFRESH]
    for log in passes.values():
        assert log.executions and log.tasks


def test_snapshot_audit_shows_the_separate_error_pass(folded):
    m, by_exec = metrics(folded, SNAPSHOT)
    # value pass scan + error pass scan + entity spine scan, joined back
    assert m["plans.scans"] == 3
    assert m["plans.joins"] == 2
    assert m["plans.python_nodes"] == 1
    assert list(by_exec) == ["vexec"]
    assert m["plans.py_bytes_sent"] > 0 and m["plans.py_rows_out"] > 0
    assert m["lineage.extra_scans"] == 0
    assert m["plans.resume.delta_rows"] == 0


def test_chord_training_set_attributes_chordexec_and_lineage(folded):
    m, by_exec = metrics(folded, CHORDS)
    assert list(by_exec) == ["chordexec"]
    assert m["plans.python_nodes"] == 1
    # the plan scans facts and chords once each; lineage rescans
    assert m["plans.scans"] == 2
    assert m["lineage.extra_scans"] >= 1
    assert m["lineage.manifest_s"] > 0
    assert m["exchange.bytes"] > 0 and m["exchange.records"] > 0


def test_daily_refresh_has_no_plans_python_nodes(folded):
    m, by_exec = metrics(folded, REFRESH)
    # merge-on-read is a sources.io Python node, not a plans one
    assert m["plans.python_nodes"] == 0 and by_exec == {}
    assert m["plans.py_bytes_sent"] == 0
    assert m["sources.io.scan_rows"] > 0
    assert m["plans.resume.delta_rows"] > 0
    assert m["plans.resume.state_rows"] > 0
    assert m["plans.resume.checkpoint_bytes"] > 0
    assert m["sources.io.bytes_written"] >= m["plans.resume.checkpoint_bytes"]


def test_task_totals(folded):
    passes, _ = folded
    m, _ = metrics(folded, SNAPSHOT)
    assert m["tasks.count"] == len(passes[SNAPSHOT].tasks)
    assert m["tasks.busy_frac"] == pytest.approx(m["tasks.run_s"] / 2.0)


def test_untagged_actions_are_ignored():
    events = [e for e in eventlog.read_events(LOG)]
    for e in events:
        e.pop("description", None)
        e.get("Properties", {}).pop("spark.job.description", None)
    passes, _ = eventlog.fold(events)
    assert passes == {}
