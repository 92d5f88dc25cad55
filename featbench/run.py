"""Feature-engine benchmark: one workload, one seed, one JSON result.

    python3 featbench/run.py --workload snapshot_audit --seed 1 \\
        --seconds 15 --trace 0

Run from the repository root. Workloads (why each was chosen, and
which metric each layer should move, are in featbench/NOTES.md):

* ``snapshot_audit``      -- run_plan(snapshot, error_codes=True), auto
* ``chord_training_set``  -- lineage.run_with_lineage(chords), auto
* ``daily_refresh``       -- append_fact_store, read_fact_store,
                             resume_plan, fold_states checkpoint

``--trace 0`` prints the end-to-end metrics; ``--trace 1`` prints the
per-layer metrics and the tracing overhead. ``--known-defects`` adds back
the features whose output the library gets wrong today
(``engine.KNOWN_DEFECTS``); such a run reports ``correct: false`` until
the library is fixed. The last line of standard
output is the JSON result; the lines before it list every metric with
its unit, plus ``peak_rss_mb``, ``ops`` and ``failed_ops``.

Processes, in order, each started only after the last one ended:

1. this process makes the seed's inputs with numpy (cached in
   ``.featbench/inputs``);
2. untraced: the timed run (``engine.py``), whose result is also kept
   in ``.featbench/results``;
   traced: the traced run, after an untraced run of the same seed
   when none is kept yet (the baseline of the tracing overhead).

``setup_s`` is one set-up per run: a second set-up process would cost
about 10 s of a run on a 4-core host (featbench/NOTES.md).
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

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("snapshot_audit", "chord_training_set", "daily_refresh")
CHILD_TIMEOUT_S = 150

E2E_UNITS = {"setup_s": "s", "job_s": "s", "job_cpu_s": "s",
             "feature_rows_per_s": "1/s"}
LAYER_UNITS = {
    "peak_rss_mb": "MB",
    "source_lang.parse_s": "s", "source_lang.folds": "count",
    "plans.build_s": "s", "plans.scans": "count", "plans.exchanges": "count",
    "plans.joins": "count", "plans.python_nodes": "count",
    "plans.py_bytes_sent": "bytes", "plans.py_bytes_returned": "bytes",
    "plans.py_rows_out": "count", "plans.py_start_s": "s",
    "plans.py_init_s": "s", "plans.py_run_s": "s",
    "plans.agg_build_s": "s", "plans.agg_peak_mem_mb": "MB",
    "plans.agg_spill_bytes": "bytes",
    "exchange.bytes": "bytes", "exchange.records": "count",
    "exchange.write_s": "s", "exchange.fetch_wait_s": "s",
    "exchange.broadcast_bytes": "bytes",
    "sources.io.scan_rows": "count", "sources.io.scan_bytes": "bytes",
    "sources.io.scan_s": "s", "sources.io.append_s": "s",
    "sources.io.write_s": "s", "sources.io.bytes_written": "bytes",
    "sources.io.store_runs": "count",
    "plans.resume.delta_rows": "count", "plans.resume.state_rows": "count",
    "plans.resume.checkpoint_write_s": "s",
    "plans.resume.checkpoint_bytes": "bytes",
    "lineage.manifest_s": "s", "lineage.extra_scans": "count",
    "session.start_s": "s", "tasks.count": "count", "tasks.run_s": "s",
    "tasks.cpu_s": "s", "tasks.gc_s": "s", "tasks.busy_frac": "ratio",
    "trace.job_s": "s", "trace.untraced_job_s": "s", "trace.overhead_s": "s",
}


def _child(args: list[str], out: str, log: str, tmp: str) -> dict:
    """Run one engine.py process in its own session; kill what is left
    of its process group afterwards; return its result file. Spark's
    scratch files and every temporary file go to ``tmp``."""
    os.makedirs(tmp, exist_ok=True)
    env = dict(os.environ, SPARK_LOCAL_DIRS=tmp, TMPDIR=tmp,
               SPARK_SUBMIT_OPTS=f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData")
    cmd = [sys.executable, os.path.join(HERE, "engine.py"), *args,
           "--out", out, "--t0", repr(time.time())]
    with open(log, "a") as fh:
        proc = subprocess.Popen(cmd, stdout=fh, stderr=subprocess.STDOUT,
                                cwd=ROOT, env=env, start_new_session=True)
        try:
            code = proc.wait(timeout=CHILD_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            code = None
        finally:
            try:
                os.killpg(proc.pid, signal.SIGKILL)
            except ProcessLookupError:
                pass
            proc.wait()
    if code != 0 or not os.path.exists(out):
        with open(log) as fh:
            tail = fh.read()[-3000:]
        raise RuntimeError(f"engine.py {' '.join(args)} failed "
                           f"(exit {code}):\n{tail}")
    with open(out) as fh:
        return json.load(fh)


def _timed(res: dict) -> list[dict]:
    """Passes after the warm-up that did not raise."""
    timed = [r for r in res["passes"][1:] if r["error"] is None]
    if not timed:
        errors = {r["error"] for r in res["passes"]}
        raise RuntimeError(f"no timed pass completed: {errors}")
    return timed


def _e2e(res: dict) -> dict:
    timed = _timed(res)
    job_s = statistics.median(r["job_s"] for r in timed)
    return {
        "setup_s": res["setup_s"],
        "job_s": job_s,
        "job_cpu_s": statistics.median(r["cpu_s"] for r in timed),
        "feature_rows_per_s": res["rows_out"] * res["n_features"] / job_s,
    }


def _peak_rss_mb(res: dict) -> float:
    """Peak tree RSS of the first pass of a fresh process, as a
    once-a-day job runs it. Not gated: the JVM heap grows in steps of
    about 1 GB at varying times, so it reads ~1.8 GB or ~2.8 GB."""
    return res["passes"][0]["peak_rss_mb"]


def _per_layer(traced: dict, base: dict) -> dict:
    layers = list(traced["layers"].values())
    m = {k: statistics.median(l["metrics"][k] for l in layers)
         for k in layers[0]["metrics"]} if layers else {}
    traced_job = statistics.median(r["job_s"] for r in _timed(traced))
    base_job = statistics.median(r["job_s"] for r in _timed(base))
    m.update({"trace.job_s": traced_job, "trace.untraced_job_s": base_job,
              "trace.overhead_s": traced_job - base_job,
              "peak_rss_mb": _peak_rss_mb(traced)})
    return m


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--known-defects", action="store_true")
    a = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, "icicle_spark")):
        print(f"featbench: no icicle_spark package under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    sys.path.insert(0, HERE)
    import gen

    man = gen.ensure(ROOT, a.workload, a.seed)
    work = os.path.join(ROOT, ".featbench", "work",
                        f"{a.workload}-s{a.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    log = os.path.join(work, "engine.log")
    common = ["--workload", a.workload, "--seed", str(a.seed),
              "--seconds", str(a.seconds),
              "--inputs", gen.input_dir(ROOT, a.workload, a.seed)]
    run_name = f"{a.workload}-s{a.seed}"
    if a.known_defects:
        common.append("--known-defects")
        run_name += "-defects"

    def child(name: str, *extra: str) -> dict:
        sub = os.path.join(work, name)
        os.makedirs(sub)
        return _child(common + ["--work", sub, *extra],
                      os.path.join(work, name + ".json"), log,
                      os.path.join(sub, "tmp"))

    results = os.path.join(ROOT, ".featbench", "results")
    os.makedirs(results, exist_ok=True)
    untraced = os.path.join(results, run_name + ".json")
    try:  # RuntimeError: an engine process or every timed pass failed
        if a.trace and os.path.exists(untraced):
            with open(untraced) as fh:
                base = json.load(fh)
        else:
            base = child("untraced")
            shutil.copyfile(os.path.join(work, "untraced.json"), untraced)
        if a.trace:
            res = child("traced", "--trace")
            metrics, units = _per_layer(res, base), LAYER_UNITS
            with open(os.path.join(results, run_name + "-layers.json"),
                      "w") as fh:
                json.dump({"inputs": man, "metrics": metrics,
                           "passes": res["layers"], "spans": res["spans"]},
                          fh, indent=1)
        else:
            res = base
            metrics, units = _e2e(res), E2E_UNITS
    except RuntimeError as exc:
        print(f"featbench: {exc}", file=sys.stderr)
        return 1
    finally:
        shutil.rmtree(work, ignore_errors=True)

    attempted = len(res["passes"])
    failed = sum(r["failed"] for r in res["passes"])
    correct = failed == 0 and not res["problems"]
    for p in res["problems"]:
        print(f"check: {p}")
    print(f"inputs: {json.dumps(man, sort_keys=True)}")
    for k in sorted(metrics):
        print(f"{a.workload} {k} = {metrics[k]:.6g} {units[k]}")
    if not a.trace:
        print(f"{a.workload} peak_rss_mb = {_peak_rss_mb(res):.6g} MB (not gated)")
    print(f"{a.workload} ops = {attempted} count")
    print(f"{a.workload} failed_ops = {failed} count")
    print(json.dumps({
        "correct": correct,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
