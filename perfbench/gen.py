"""Seeded input generator: one ``events.parquet`` in the fixture schema.

``event_id bigint, ts timestamp, user_id bigint, event_type string,
value double, props string`` -- the schema ``session.Tables`` reads and
``plans.clearmap.synth_moh_dirty`` / ``synth_shape`` turn into the MOH
fact table and the area dimension (one area per ``user_id``).

Shape dials:

- ``areas``: distinct users, i.e. the dimension (broadcast side) size;
- ``days``: contiguous days, i.e. how many rows each window keeps;
- ``per_area_day``: mean events per area-day (Poisson), which sets the
  share of area-days whose summed value falls under
  ``clearmap.CENSOR`` and is rendered as ``'<15'``.

``value`` is drawn on a quarter grid (k / 4, k < 200): every partial sum
of such values is exact in a double, so ``sum(value)`` does not depend
on summation order and ``round()`` sees the same input in Spark and in
DuckDB.  The same arguments always give byte-identical parquet.
"""

from __future__ import annotations

import datetime as _dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from clear_map_data_pipeline_spark.plans.clearmap import CENSOR

EVENT_TYPES = ["view", "click", "purchase", "signup", "error"]
START = _dt.datetime(2024, 1, 1)
_DAY_US = 86_400_000_000


def generate(
    out_dir: str, seed: int, areas: int, days: int, per_area_day: float
) -> dict:
    """Write ``{out_dir}/events.parquet``; return its realised shape."""
    rng = np.random.default_rng(seed)
    counts = rng.poisson(per_area_day, areas * days)
    cell = np.repeat(np.arange(areas * days, dtype=np.int64), counts)
    n = int(cell.size)
    user = cell // days
    day = cell % days
    start_us = int((START - _dt.datetime(1970, 1, 1)).total_seconds()) * 1_000_000
    ts = start_us + day * _DAY_US + rng.integers(0, _DAY_US, n)
    etype = rng.integers(0, len(EVENT_TYPES), n).astype(np.int32)
    value = rng.integers(0, 200, n) / 4.0
    props = rng.integers(0, 100, n).astype(np.int32)
    order = np.argsort(ts, kind="stable")
    types = pa.array(EVENT_TYPES)
    prop_strs = pa.array([f'{{"k": {k}}}' for k in range(100)])
    table = pa.table(
        {
            "event_id": pa.array(np.arange(n, dtype=np.int64)),
            "ts": pa.array(ts[order], type=pa.timestamp("us")),
            "user_id": pa.array(user[order]),
            "event_type": types.take(pa.array(etype[order])),
            "value": pa.array(value[order]),
            "props": prop_strs.take(pa.array(props[order])),
        }
    )
    os.makedirs(out_dir, exist_ok=True)
    path = os.path.join(out_dir, "events.parquet")
    pq.write_table(table, path, compression="snappy", row_group_size=1 << 18)

    # realised shape, from the same arrays the file was written from
    sums = np.bincount(cell, weights=value, minlength=areas * days)
    present = counts > 0
    return {
        "events": n,
        "area_days": int(present.sum()),
        "areas": int(np.unique(user).size),
        "days": days,
        "censored_share": round(float((sums[present] < CENSOR).mean()), 4),
        "file_bytes": os.path.getsize(path),
    }
