"""Inputs of the benchmark.

- ``BASE``: the project's sf0.01 test tables (the ten TPC-H-ish star
  schema, ``events``, ``documents`` and ``embeddings`` tables of
  ``TESTDATA.md``, Seed=42), copied unchanged into ``perfbench/data``. The
  registry rows read them as they are, so their expected outputs can be
  pinned in ``expected/``.
- ``write_replica``: the ETL workload's input, ``factor`` copies of the
  base ``events`` and ``customer`` with disjoint per-copy key offsets on
  ``event_id``, ``user_id`` and ``c_custkey`` (the ``graft.Sweep``
  scheme). The benchmark seed decides which copy is shifted by how many
  whole days, so different seeds give each member a different calendar.
  It is written under a marker file that records its parameters; a
  directory whose marker matches is reused as it is.
"""
import json
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

BASE = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data", "sf0.01")
# Sweep.scaleTable's copy offset: keys of different copies never collide.
KEY_OFFSET = 1 << 25
MARKER = "_PERFBENCH_META"


def _marker_ok(path, meta):
    try:
        with open(os.path.join(path, MARKER)) as f:
            stored = json.load(f)
        return all(stored.get(k) == v for k, v in meta.items())
    except (OSError, ValueError):
        return False


def _publish(tmp, path, meta):
    with open(os.path.join(tmp, MARKER), "w") as f:
        json.dump(meta, f)
    shutil.rmtree(path, ignore_errors=True)
    os.rename(tmp, path)


def write_replica(base, path, factor, seed):
    """Writes ``factor`` shifted, key-offset copies of ``base``'s events
    and customer into ``path`` (one parquet file per copy)."""
    meta = {"kind": "replica", "base": os.path.basename(base),
            "factor": factor, "seed": seed, "version": 1}
    if _marker_ok(path, meta):
        return False
    tmp = path + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    # each copy moves by a distinct whole number of days, 0..factor-1: the
    # seed decides which copy gets which shift, while the calendar the
    # copies cover together (and so the amount of work) stays the same
    shifts = [int(x) for x in np.random.default_rng(seed).permutation(factor)]
    events = pq.read_table(os.path.join(base, "events.parquet"))
    customer = pq.read_table(os.path.join(base, "customer.parquet"))
    for name in ("events", "customer"):
        os.makedirs(os.path.join(tmp, f"{name}.parquet"))
    day_us = 86_400 * 1_000_000
    ts_col, id_col, user_col = (events.schema.get_field_index(c)
                                for c in ("ts", "event_id", "user_id"))
    key_col = customer.schema.get_field_index("c_custkey")
    ts_us = pc.cast(events["ts"], pa.timestamp("us")).cast(pa.int64()).to_numpy()
    for k, shift in enumerate(shifts):
        off = k * KEY_OFFSET
        ts = ts_us + shift * day_us
        ev = events.set_column(id_col, "event_id", pa.array(events["event_id"].to_numpy() + off))
        ev = ev.set_column(ts_col, "ts", pa.array(ts.astype("datetime64[us]"), pa.timestamp("us")))
        ev = ev.set_column(user_col, "user_id", pa.array(events["user_id"].to_numpy() + off))
        cu = customer.set_column(key_col, "c_custkey",
                                 pa.array(customer["c_custkey"].to_numpy() + off))
        pq.write_table(ev, os.path.join(tmp, "events.parquet", f"part-{k:05d}.parquet"))
        pq.write_table(cu, os.path.join(tmp, "customer.parquet", f"part-{k:05d}.parquet"))
    meta["shifts_days"] = shifts
    _publish(tmp, path, meta)
    return True


def row_counts(path):
    """Rows per parquet table (file or directory) under ``path``."""
    out = {}
    for name in sorted(os.listdir(path)):
        if name.endswith(".parquet"):
            p = os.path.join(path, name)
            files = [os.path.join(p, f) for f in sorted(os.listdir(p))] if os.path.isdir(p) else [p]
            out[name[:-len(".parquet")]] = sum(pq.ParquetFile(f).metadata.num_rows for f in files)
    return out
