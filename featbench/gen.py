"""Seeded inputs for the feature-engine benchmark.

Facts come from ``icicle_spark.sources.benchgen.generate`` (Zipf-skewed
entities, uniform event times over 200 days) and get, from the same
seed, deterministic tombstones (``dead``) and null ``n_tok`` values so
that every Error64 code occurs:

* 1 Tombstone      -- a visible tombstoned fact,
* 2 Fold1NoValue   -- entities whose facts all lie after the snapshot,
* 3 CannotCompute  -- a visible null ``n_tok`` on a live fact.

Per workload the directory ``.featbench/inputs/<workload>-s<seed>``
holds (written once per seed, then reused):

* ``facts.parquet``   -- snapshot_audit, chord_training_set
* ``chords.parquet``  -- chord_training_set: (doc_id, query_time, label)
* ``delta.parquet``   -- daily_refresh: the last day's facts
* ``manifest.json``   -- row counts and a digest of the generated files

daily_refresh's history before that day does not depend on the seed:
``.featbench/inputs/daily_refresh-base`` holds it once per checkout
(``base.parquet``, from seed ``BASE_SEED``), with the arranged store
(``store/``) and yesterday's checkpoint (``ckpt/``) that
``engine.stage_daily`` writes with Spark on the first daily_refresh run,
outside the timed set-up. The seed picks today's delta.

The numpy part runs in the orchestrating process, before the timed one.
"""

from __future__ import annotations

import hashlib
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

DAY_S = 86_400
EPOCH_S = 1_704_067_200  # 2024-01-01T00:00:00Z, benchgen's epoch
DAYS = 200
TOMBSTONE_RATE = 0.003
NULL_RATE = 0.003

# Sizes per workload. snapshot_audit is the smallest: its Error64
# latest-N pass ranks each entity's facts with an unbounded-following
# window, which Spark evaluates in time quadratic in the hottest
# entity's fact count (about 18 % of all facts under Zipf a=1.2).
SIZES = {
    "snapshot_audit": {"n_rows": 50_000, "n_docs": 2_500},
    "chord_training_set": {"n_rows": 200_000, "n_docs": 10_000},
    "daily_refresh": {"n_rows": 120_000, "n_docs": 6_000},
}
BASE_SEED = 0  # daily_refresh history before the delta day
CHORD_ENTITY_SHARE = 5  # 1 in 5 entities (hashed) gets chords
CHORDS_PER_ENTITY = (2, 7)  # uniform in [2, 7)


def input_dir(root: str, workload: str, seed: int) -> str:
    return os.path.join(root, ".featbench", "inputs", f"{workload}-s{seed}")


def base_dir(root: str) -> str:
    return os.path.join(root, ".featbench", "inputs", "daily_refresh-base")


def _facts(root: str, workload: str, seed: int) -> pa.Table:
    from icicle_spark.sources.benchgen import generate

    size = SIZES[workload]
    path = generate(
        n_rows=size["n_rows"],
        n_docs=size["n_docs"],
        seed=seed,
        out_dir=os.path.join(root, ".featbench", "benchgen"),
    )
    tbl = pq.read_table(path).drop_columns(["tokens"])
    os.remove(path)  # the derived facts below are the cached input
    rng = np.random.default_rng([seed, 1])
    n = tbl.num_rows
    dead = rng.random(n) < TOMBSTONE_RATE
    null_tok = rng.random(n) < NULL_RATE
    n_tok = pa.array(tbl.column("n_tok").to_numpy(), mask=null_tok)
    tbl = tbl.set_column(tbl.schema.get_field_index("n_tok"), "n_tok", n_tok)
    return tbl.append_column("dead", pa.array(dead))


def _chords(facts: pa.Table, seed: int) -> pa.Table:
    rng = np.random.default_rng([seed, 2])
    docs = np.unique(facts.column("doc_id").to_numpy(zero_copy_only=False))
    idx = np.char.lstrip(docs.astype(str), "doc_").astype(np.int64)
    # multiplicative hash: a fixed, seed-independent entity sample
    picked = docs[(idx * 2_654_435_761) % 2**32 % CHORD_ENTITY_SHARE == 0]
    per = rng.integers(*CHORDS_PER_ENTITY, len(picked))
    ents = np.repeat(picked, per)
    secs = rng.integers(DAY_S, DAYS * DAY_S, len(ents), dtype=np.int64)
    return pa.table(
        {
            "doc_id": pa.array(ents),
            "query_time": pa.array(
                (EPOCH_S + secs) * 1_000_000, type=pa.timestamp("us")
            ),
            "label": pa.array(rng.integers(0, 2, len(ents)).astype(str)),
        }
    )


def _digest(paths: list[str]) -> str:
    h = hashlib.sha256()
    for p in paths:
        with open(p, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()[:16]


def delta_bounds() -> tuple[int, int]:
    """daily_refresh: yesterday's checkpoint cutoff and today's
    snapshot, epoch seconds. The delta is the last generated day."""
    t0 = EPOCH_S + (DAYS - 1) * DAY_S
    return t0, t0 + DAY_S


def ensure(root: str, workload: str, seed: int) -> dict:
    """Generate this seed's numpy-built inputs unless cached; returns
    the manifest."""
    d = input_dir(root, workload, seed)
    man_path = os.path.join(d, "manifest.json")
    if os.path.exists(man_path):
        with open(man_path) as fh:
            return json.load(fh)
    os.makedirs(d, exist_ok=True)
    facts = _facts(root, workload, seed)
    man = {"workload": workload, "seed": seed, "facts_rows": facts.num_rows}
    files = []
    if workload == "daily_refresh":
        cut_us, end_us = (t * 1_000_000 for t in delta_bounds())
        base_path = os.path.join(base_dir(root), "base.parquet")
        if not os.path.exists(base_path):
            history = _facts(root, workload, BASE_SEED)
            ts = pc.cast(history.column("event_time"), pa.int64())
            os.makedirs(base_dir(root), exist_ok=True)
            pq.write_table(history.filter(pc.less(ts, cut_us)), base_path + ".tmp")
            os.replace(base_path + ".tmp", base_path)
        ts = pc.cast(facts.column("event_time"), pa.int64())
        delta = facts.filter(
            pc.and_(pc.greater_equal(ts, cut_us), pc.less(ts, end_us))
        )
        files += [base_path, os.path.join(d, "delta.parquet")]
        pq.write_table(delta, files[1])
        man.update(base_rows=pq.read_metadata(base_path).num_rows,
                   delta_rows=delta.num_rows)
    else:
        files.append(os.path.join(d, "facts.parquet"))
        pq.write_table(facts, files[0])
    if workload == "chord_training_set":
        chords = _chords(facts, seed)
        files.append(os.path.join(d, "chords.parquet"))
        pq.write_table(chords, files[-1])
        man["chord_rows"] = chords.num_rows
    man["digest"] = _digest(files)
    with open(man_path + ".tmp", "w") as fh:
        json.dump(man, fh)
    os.replace(man_path + ".tmp", man_path)
    return man
