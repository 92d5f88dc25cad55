"""One benchmark process: set up, run a workload's job passes, check.

    python3 featbench/engine.py --workload W --seed N --seconds S
        --inputs DIR --work DIR --out FILE --t0 EPOCH
        [--trace]

Set-up (``setup_s``) runs from ``--t0`` (taken by the parent just
before it started this process) until the Spark session is up, the
feature dictionary is parsed from Icicle source text and the inputs
are registered. daily_refresh's Spark-written inputs are staged
between the two on the first daily_refresh run of a checkout, and that
time is left out of ``setup_s``. Each job pass calls the library's public
functions in the order ``jobs/run_features.py`` calls them (read,
plan, parquet write, lineage/checkpoint). Passes repeat until
``--seconds`` have passed, at least ``MIN_PASSES`` of them, after a
warm-up pass (it starts the Python workers and warms the JVM's JIT
and takes two to three times as long as a later pass). The result
file holds the numbers of every pass, the warm-up included. With ``--trace`` the session
writes Spark's event log and the process records spans around each
call into the library; both are folded into per-layer metrics at exit.
"""

from __future__ import annotations

import argparse
import gc
import hashlib
import json
import os
import shutil
import signal
import sys
import time
from contextlib import contextmanager

import eventlog
import gen
import proctree

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

MIN_PASSES = 3
SNAPSHOT = "2024-07-01 00:00:00"
COLS = dict(entity_col="doc_id", time_col="event_time", seq_col="seq",
            tombstone_col="dead")

# Icicle source text of each workload's dictionary. Every feature of
# the chord and refresh dictionaries is prefix-decomposable
# (chordexec.supports_chords) and resumable (resume.resumable).
_COMMON = {
    "sum_tok": "from facts ~> sum n_tok",
    "count_tok": "from facts ~> count n_tok",
    "mean_tok": "from facts ~> mean n_tok",
    "min_tok": "from facts ~> min n_tok",
    "max_tok": "from facts ~> max n_tok",
    "sd_tok": "from facts ~> sd n_tok",
    "newest_tok": "from facts ~> newest n_tok",
    "win30_sum": "from facts ~> windowed 30 days ~> sum n_tok",
    "win30_count": "from facts ~> windowed 30 days ~> count n_tok",
    "latest5_mean": "from facts ~> latest 5 ~> mean n_tok",
    "web_count": 'from facts ~> filter source == "web" ~> count n_tok',
    "mean_manual": "from facts ~> sum n_tok / count n_tok",
}
_FULL = {
    "snapshot_audit": {
        **_COMMON,
        "count_by_source": "from facts ~> group source ~> count n_tok",
        "distinct_sources": "from facts ~> distinct source ~> count source",
    },
    "chord_training_set": _COMMON,
    "daily_refresh": _COMMON,
}
# Features whose output the checks find wrong in the library as it
# stands (featbench/NOTES.md, "Defects"). The measured dictionaries
# leave them out, so that every measured pass can succeed;
# ``--known-defects`` puts them back, and those runs fail their checks
# until the library is fixed.
KNOWN_DEFECTS = {
    "snapshot_audit": ("sd_tok", "distinct_sources"),
    "daily_refresh": ("latest5_mean",),
}
DICTIONARIES = {
    w: {k: v for k, v in d.items() if k not in KNOWN_DEFECTS.get(w, ())}
    for w, d in _FULL.items()
}


class Tracer:
    """Spans (name, start, end, parent, run id) kept in memory; a
    disabled tracer records nothing and tags no Spark job."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self.run_id = "setup"
        self.sc = None

    @contextmanager
    def span(self, name: str, step: str | None = None):
        if not self.enabled:
            yield
            return
        if step is not None and self.sc is not None:
            self.sc.setJobDescription(eventlog.tag(int(self.run_id), step))
        rec = {"name": name, "start": time.time(), "end": None,
               "parent": self._stack[-1] if self._stack else None,
               "run": self.run_id}
        self.spans.append(rec)
        self._stack.append(len(self.spans) - 1)
        try:
            yield
        finally:
            rec["end"] = time.time()
            self._stack.pop()
            if step is not None and self.sc is not None:
                self.sc.setJobDescription(None)

    def total(self, name: str, run: str) -> float:
        return sum(s["end"] - s["start"] for s in self.spans
                   if s["name"] == name and s["run"] == run)


def _paths(root: str, inputs: str, work: str, source: dict) -> dict:
    """Input and output paths. Yesterday's checkpoint holds the fold
    states of one dictionary, so its directory is named by a digest of
    the dictionary's source text."""
    base = gen.base_dir(root)
    tag = hashlib.sha256(json.dumps(source, sort_keys=True).encode())
    return {
        "facts": os.path.join(inputs, "facts.parquet"),
        "chords": os.path.join(inputs, "chords.parquet"),
        "delta": os.path.join(inputs, "delta.parquet"),
        "base": os.path.join(base, "base.parquet"),
        "store": os.path.join(base, "store"),
        "ckpt": os.path.join(base, "ckpt-" + tag.hexdigest()[:12]),
        "out": os.path.join(work, "out"),
        "ckpt_new": os.path.join(work, "ckpt_new"),
        "work_store": os.path.join(work, "store"),
    }


def _refresh_times() -> tuple[str, str]:
    import pandas as pd

    t0, t1 = gen.delta_bounds()
    fmt = "%Y-%m-%d %H:%M:%S"
    return (pd.Timestamp(t0, unit="s").strftime(fmt),
            pd.Timestamp(t1, unit="s").strftime(fmt))


def stage_daily(spark, plan, p: dict) -> None:
    """daily_refresh inputs that need Spark: the arranged store of the
    base facts and yesterday's checkpoint. Written once per checkout."""
    from icicle_spark.plans.resume import fold_states
    from icicle_spark.sources.io import read_fact_store, write_fact_store

    if os.path.exists(p["ckpt"]):
        return
    yesterday, _ = _refresh_times()
    shutil.rmtree(p["store"], ignore_errors=True)
    # written with one file per core, like the store's buckets below
    default_parts = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", str(os.cpu_count()))
    # one bucket per core: merge-on-read runs one Python task per
    # bucket, each paying about a second of Python start-up (4-core host)
    write_fact_store(spark.read.parquet(p["base"]), p["store"],
                     COLS["entity_col"], COLS["time_col"], COLS["seq_col"],
                     buckets=os.cpu_count())
    base, _ = read_fact_store(spark, p["store"])
    tmp = p["ckpt"] + ".tmp"
    fold_states(base, plan, as_of=yesterday).write.mode("overwrite").parquet(tmp)
    spark.conf.set("spark.sql.shuffle.partitions", default_parts)
    os.replace(tmp, p["ckpt"])


def _reset_store(p: dict) -> None:
    """Working copy of the staged store without delta runs: parquet
    files hard-linked (append_fact_store never rewrites them), the
    layout file copied (append rewrites it in place)."""
    dst = p["work_store"]
    shutil.rmtree(dst, ignore_errors=True)
    os.makedirs(dst)
    for name in os.listdir(p["store"]):
        src = os.path.join(p["store"], name)
        if name == "_fact_store.json":
            shutil.copyfile(src, os.path.join(dst, name))
        elif os.path.isfile(src):
            os.link(src, os.path.join(dst, name))


class Workload:
    """Inputs, one job pass and the checks of one workload."""

    def __init__(self, name, spark, plan, p, tracer):
        self.name, self.spark, self.plan, self.p = name, spark, plan, p
        self.tr = tracer
        self.features = [f.name for f in plan.features
                         if f.name not in plan.hidden] + [n for n, _ in plan.postcomps]
        self.inputs = self.register()

    def register(self) -> dict:
        read = self.spark.read.parquet
        if self.name == "snapshot_audit":
            return {"facts": read(self.p["facts"])}
        if self.name == "chord_training_set":
            return {"facts": read(self.p["facts"]), "chords": read(self.p["chords"])}
        return {"delta": read(self.p["delta"]), "states": read(self.p["ckpt"])}

    def prepare(self) -> None:
        shutil.rmtree(self.p["out"], ignore_errors=True)
        if self.name == "daily_refresh":
            shutil.rmtree(self.p["ckpt_new"], ignore_errors=True)
            _reset_store(self.p)

    def run(self) -> None:
        from icicle_spark.plans import run_plan

        span, out = self.tr.span, self.p["out"]
        if self.name == "snapshot_audit":
            with span("plans.run_plan", step="plan"):
                df = run_plan(self.inputs["facts"], self.plan, snapshot=SNAPSHOT,
                              error_codes=True)
            with span("sources.io.write", step="plan"):
                df.write.mode("overwrite").parquet(out)
        elif self.name == "chord_training_set":
            from icicle_spark.lineage import run_with_lineage

            with span("lineage.run_with_lineage", step=eventlog.LINEAGE_STEP):
                run_with_lineage(self.inputs["facts"], self.plan, out,
                                 chords=self.inputs["chords"], strategy="auto")
        else:
            from icicle_spark.plans.resume import fold_states, resume_plan
            from icicle_spark.sources.io import append_fact_store, read_fact_store

            _, today = _refresh_times()
            store = self.p["work_store"]
            with span("sources.io.append_fact_store", step=eventlog.APPEND_STEP):
                append_fact_store(self.inputs["delta"], store)
            with span("sources.io.read_fact_store", step="read"):
                facts, self.store_meta = read_fact_store(self.spark, store)
            with span("plans.resume_plan", step="resume"):
                df = resume_plan(facts, self.plan, self.inputs["states"], snapshot=today)
            with span("sources.io.write", step="resume"):
                df.write.mode("overwrite").parquet(out)
            with span("plans.fold_states", step=eventlog.CHECKPOINT_STEP):
                states = fold_states(facts, self.plan, as_of=today)
            with span("sources.io.write_checkpoint", step=eventlog.CHECKPOINT_STEP):
                states.write.mode("overwrite").parquet(self.p["ckpt_new"])

    # ---- correctness (outside the timed region) -------------------------

    def output(self):
        return self.spark.read.parquet(self.p["out"])

    def digest(self) -> tuple[int, int]:
        """(rows, xor of row hashes) of the pass output; floats rounded
        so that summation order cannot change the digest."""
        from pyspark.sql import functions as F
        from pyspark.sql import types as T

        df = self.output()
        cols = []
        for fld in df.schema.fields:
            c = F.col(fld.name)
            if isinstance(fld.dataType, T.MapType):
                c = F.to_json(F.array_sort(F.map_entries(c)))
            elif isinstance(fld.dataType, (T.DoubleType, T.FloatType)):
                c = F.round(c, 6)
            cols.append(c)
        row = df.agg(F.count(F.lit(1)), F.bit_xor(F.xxhash64(*cols))).first()
        return int(row[0]), int(row[1] or 0)

    def check(self) -> list[str]:
        """Problems found in the last pass output; empty when correct."""
        from pyspark.sql import functions as F

        from icicle_spark.plans import run_plan

        def sample(df):  # fixed hashed sample of entities
            return df.where(F.abs(F.xxhash64("doc_id")) % 8 == 0)

        if self.name == "snapshot_audit":
            facts = self.inputs["facts"]
            ref = run_plan(sample(facts), self.plan, snapshot=SNAPSHOT,
                           strategy="cogroup")
            problems = _compare(sample(self.output()), ref, ["doc_id"], self.features)
            return problems + self._check_errors()
        if self.name == "chord_training_set":
            return self._check_chords()
        _, today = _refresh_times()
        full = self.spark.read.parquet(self.p["base"], self.p["delta"])
        ref = run_plan(sample(full), self.plan, snapshot=today, strategy="native")
        return _compare(sample(self.output()), ref, ["doc_id"], self.features)

    def _check_errors(self) -> list[str]:
        """Every null feature carries a non-zero Error64 code, and the
        inputs make codes 1-3 all occur."""
        from pyspark.sql import functions as F

        out = self.output()
        bad = out.agg(*[
            F.sum((F.col(f).isNull() & (F.col(f + "_err") == 0)).cast("int")).alias(f)
            for f in self.features
        ]).first().asDict()
        problems = [f"{f}: {n} null values with code 0" for f, n in bad.items() if n]
        codes = {r[0] for r in out.select(F.explode(F.array(
            *[F.col(f + "_err") for f in self.features]))).distinct().collect()}
        if not {1, 2, 3} <= codes:
            problems.append(f"Error64 codes seen {sorted(codes)}, want 1, 2 and 3")
        return problems

    def _check_chords(self) -> list[str]:
        """One cogroup run checks two disjoint entity samples: on the
        first, every chord against the full facts; on the second (one
        chord per entity, 32 chords), against only the facts before the
        chord's query time -- the zero-leakage check."""
        from pyspark.sql import Window, functions as F

        from icicle_spark.plans import run_plan

        facts, chords = self.inputs["facts"], self.inputs["chords"]
        keys = ["doc_id", "query_time", "label"]
        bucket = F.abs(F.xxhash64("doc_id")) % 8
        first = Window.partitionBy("doc_id").orderBy("query_time", "label")
        pick = (chords.where(bucket == 1)
                .withColumn("__r", F.row_number().over(first)).where("__r = 1")
                .drop("__r").orderBy("doc_id").limit(32))
        cut = (facts.join(pick.select("doc_id", "query_time"), "doc_id")
               .where(F.col("event_time") < F.col("query_time"))
               .select(*facts.columns))
        both = chords.where(bucket == 0).unionByName(pick)
        ref = run_plan(facts.where(bucket == 0).unionByName(cut), self.plan,
                       chords=both, strategy="cogroup")
        got = self.output().join(both, keys, "left_semi")
        ref, got = (df.select((bucket == 1).alias("cut"), *keys, *self.features)
                    .toPandas() for df in (ref, got))
        return (_compare(got[~got.cut], ref[~ref.cut], keys, self.features)
                + [f"leakage: {p}" for p in _compare(
                    got[got.cut], ref[ref.cut], keys, self.features)])


def _compare(got, ref, keys, features) -> list[str]:
    """Row-by-row comparison of two pandas or Spark frames."""
    if not hasattr(got, "iloc"):
        got = got.select(*keys, *features).toPandas()
    if not hasattr(ref, "iloc"):
        ref = ref.select(*keys, *features).toPandas()
    if len(got) != len(ref) or len(ref) == 0:
        return [f"rows: got {len(got)}, reference {len(ref)}"]
    got = got.sort_values(keys, ignore_index=True)
    ref = ref.sort_values(keys, ignore_index=True)
    if not got[keys].equals(ref[keys]):
        return ["keys differ from the reference"]
    problems = []
    for f in features:
        a, b = got[f].tolist(), ref[f].tolist()
        bad = sum(not _same(x, y) for x, y in zip(a, b))
        if bad:
            i = next(i for i, (x, y) in enumerate(zip(a, b)) if not _same(x, y))
            problems.append(f"{f}: {bad} rows differ, e.g. {keys[0]}="
                            f"{got[keys[0]][i]} got {a[i]!r} want {b[i]!r}")
    return problems


def _same(x, y) -> bool:
    import math

    def null(v):
        return v is None or (isinstance(v, float) and math.isnan(v))

    if null(x) or null(y):
        return null(x) and null(y)
    if isinstance(x, dict) or isinstance(y, dict):
        return (set(x) == set(y)) and all(_same(x[k], y[k]) for k in x)
    if isinstance(x, (list, tuple)):
        xs = dict(x)  # map columns come back from Arrow as key/value pairs
        return _same(xs, dict(y) if not isinstance(y, dict) else y)
    try:
        return math.isclose(float(x), float(y), rel_tol=1e-9, abs_tol=1e-9)
    except (TypeError, ValueError):
        return x == y


# ---- process -------------------------------------------------------------


def _shutdown(spark) -> None:
    """Stop Spark and wait until the JVM and the Python workers exit."""
    from pyspark import SparkContext

    pids = [p for p in proctree.descendants(os.getpid()) if p != os.getpid()]
    spark.stop()
    gw = SparkContext._gateway
    if gw is not None:
        gw.shutdown()
        proc = getattr(gw, "proc", None)
        if proc is not None:
            proc.stdin.close()
            try:
                proc.wait(timeout=20)
            except Exception:
                proc.kill()
                proc.wait()
    deadline = time.time() + 20
    for pid in pids:
        while os.path.exists(f"/proc/{pid}") and time.time() < deadline:
            time.sleep(0.05)
        if os.path.exists(f"/proc/{pid}"):
            try:
                os.kill(pid, signal.SIGKILL)
            except ProcessLookupError:
                pass


def main(argv=None) -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(DICTIONARIES))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--inputs", required=True)
    ap.add_argument("--work", required=True)
    ap.add_argument("--out", required=True)
    ap.add_argument("--t0", type=float, required=True)
    ap.add_argument("--trace", action="store_true")
    ap.add_argument("--known-defects", action="store_true")
    a = ap.parse_args(argv)

    sys.path.insert(0, ROOT)
    # Spark's Python workers unpickle closures that import the library
    os.environ["PYTHONPATH"] = ROOT + os.pathsep + os.environ.get("PYTHONPATH", "")
    slots = os.cpu_count() or 1
    tr = Tracer(a.trace)
    source = (_FULL if a.known_defects else DICTIONARIES)[a.workload]
    p = _paths(ROOT, a.inputs, a.work, source)
    conf = {}
    if a.trace:
        ev_dir = os.path.join(a.work, "eventlog")
        os.makedirs(ev_dir, exist_ok=True)
        conf = {"spark.eventLog.enabled": "true", "spark.eventLog.dir": ev_dir,
                "spark.eventLog.compress": "false"}

    with tr.span("session.start"):
        from icicle_spark.session import get_spark

        spark = get_spark(app_name=f"featbench_{a.workload}", cpus=slots,
                          extra_conf=conf)
        spark.sparkContext.setLogLevel("ERROR")
    tr.sc = spark.sparkContext
    with tr.span("source_lang.parse_program"):
        from icicle_spark.source_lang import parse_program

        plan = parse_program(source, dialect="sql", **COLS)["facts"]
    staged_s = 0.0
    if a.workload == "daily_refresh":
        t = time.time()
        stage_daily(spark, plan, p)
        staged_s = time.time() - t
    with tr.span("sources.io.register"):
        wl = Workload(a.workload, spark, plan, p, tr)
    result = {"setup_s": time.time() - a.t0 - staged_s, "staged_s": staged_s}

    passes = []
    with proctree.TreeSampler(os.getpid()) as sampler:
        t_start = None
        while (len(passes) <= MIN_PASSES
               or time.perf_counter() - t_start < a.seconds):
            if len(passes) == 1:
                t_start = time.perf_counter()  # pass 0 is the warm-up
            wl.prepare()
            # start every pass from a collected heap, so that garbage
            # and heap growth left by the last pass do not carry over
            gc.collect()
            spark.sparkContext._jvm.System.gc()
            tr.run_id = str(len(passes))
            sampler.window()
            cpu0 = sampler.cpu()
            t = time.perf_counter()
            try:
                wl.run()
                error = None
            except Exception as exc:  # a failed pass is counted, not fatal
                error = f"{type(exc).__name__}: {exc}"[:500]
            job_s = time.perf_counter() - t
            rec = {"pass": len(passes), "job_s": job_s,
                   "cpu_s": sampler.cpu() - cpu0,
                   "peak_rss_mb": sampler.window() / 2**20, "error": error}
            if error is None:
                rec["digest"] = wl.digest()
                if a.workload == "daily_refresh":
                    rec["store_runs"] = len(wl.store_meta.get("runs", []))
            passes.append(rec)
    last_ok = next((r for r in reversed(passes) if r["error"] is None), None)
    # the reference evaluators run on small samples: fewer shuffle
    # partitions keep their per-task Python start-up short
    spark.conf.set("spark.sql.shuffle.partitions", str(slots))
    t = time.perf_counter()
    try:
        problems = wl.check() if last_ok is not None else ["every pass raised"]
    except Exception as exc:  # a broken reference is a failed check
        problems = [f"check raised {type(exc).__name__}: {exc}"[:500]]
    result["check_s"] = time.perf_counter() - t
    good = last_ok["digest"] if last_ok is not None and not problems else None
    for r in passes:
        r["failed"] = r["error"] is not None or r.get("digest") != good
    rows = last_ok["digest"][0] if last_ok is not None else 0
    result.update(passes=passes, problems=problems, rows_out=rows,
                  n_features=len(wl.features), slots=slots)
    _shutdown(spark)
    if a.trace:
        result["spans"] = tr.spans
        result["layers"] = _layers(a, tr, passes, plan, slots)
    _write(a.out, result)
    return 0


def _layers(a, tr: Tracer, passes: list[dict], plan, slots: int) -> dict:
    """Per-pass per-layer metrics from the event log and the spans."""
    logs, acc = eventlog.fold(eventlog.read_events(os.path.join(a.work, "eventlog")))
    out = {}
    for rec in passes[1:]:  # the warm-up pass is not reported
        if rec["error"] is not None:
            continue
        run = str(rec["pass"])
        log = logs.get(rec["pass"], eventlog.PassLog())
        m, by_exec = eventlog.layer_metrics(log, acc, slots, rec["job_s"])
        # plan building is driver-side work before the first action;
        # run_with_lineage builds and executes in one call
        build = sum(tr.total(n, run) for n in
                    ("plans.run_plan", "plans.resume_plan", "plans.fold_states"))
        for s in tr.spans:
            if s["name"] == "lineage.run_with_lineage" and s["run"] == run:
                first = min(e.start_ms for e in log.executions) / 1e3
                build += max(first - s["start"], 0.0)
        m.update({
            "plans.build_s": build,
            "sources.io.append_s": tr.total("sources.io.append_fact_store", run),
            "sources.io.store_runs": float(rec.get("store_runs", 0)),
            "plans.resume.checkpoint_write_s": (
                tr.total("plans.fold_states", run)
                + tr.total("sources.io.write_checkpoint", run)),
            "session.start_s": tr.total("session.start", "setup"),
            "source_lang.parse_s": tr.total("source_lang.parse_program", "setup"),
            "source_lang.folds": float(len(plan.features)),
        })
        out[run] = {"metrics": m, "py_run_s_by_executor": by_exec}
    return out


def _write(path: str, obj: dict) -> None:
    with open(path + ".tmp", "w") as fh:
        json.dump(obj, fh)
    os.replace(path + ".tmp", path)


if __name__ == "__main__":
    sys.exit(main())
