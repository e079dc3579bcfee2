"""Sinks (SURVEY §2.1 S4-S9).

The reference's export artifacts are small (thousands of features), so
the GeoJSON/CSV writers collect ordered rows to the driver and emit a
single file — matching the reference's single-file, ordered outputs.

S7 (tippecanoe), S8 (S3 upload) and S9 (Mapbox publish) are process/
network boundaries OUTSIDE the query plan — kept as driver-side adapter
seams, stubbed where the tool/credentials are absent.
"""

from __future__ import annotations

import csv as _csv
import json
from itertools import zip_longest
from typing import Sequence

from pyspark.sql import DataFrame, Row


def write_geojson(
    df: DataFrame | list[Row],
    path: str,
    geom_col: str = "geometry",
    order_by: Sequence[str] = ("id", "date"),
) -> None:
    """S4/S5 (ref :173-175): write features as a GeoJSON
    FeatureCollection (geometry from the WKT column, all other columns
    as properties, in column order).

    ``df`` is either a DataFrame, collected in ``order_by`` order (one
    Spark action), or a list of Rows already in the wanted order, which
    is written as given (``order_by`` is then unused)."""
    from ..operators.spatial import wkt_to_geojson

    rows = df.orderBy(*order_by).collect() if isinstance(df, DataFrame) else df
    cols = [c for c in (rows[0].__fields__ if rows else ()) if c != geom_col]
    feats = []
    for r in rows:
        feats.append(
            {
                "type": "Feature",
                "properties": {c: _jsonable(r[c]) for c in cols},
                "geometry": json.loads(wkt_to_geojson(r[geom_col])),
            }
        )
    with open(path, "w", encoding="utf-8") as f:
        json.dump({"type": "FeatureCollection", "features": feats}, f)


def _jsonable(v):
    import datetime

    if isinstance(v, (datetime.date, datetime.datetime)):
        return v.isoformat()
    return v


def write_dates_array_csv(path: str, columns: dict[str, list]) -> None:
    """S6 (ref :202-213): the ragged 12-column dates/colors/sums CSV,
    zip_longest over unequal-length lists."""
    with open(path, "w", newline="") as f:
        w = _csv.writer(f)
        w.writerow(list(columns))
        for values in zip_longest(*columns.values()):
            w.writerow(values)


def build_mbtiles(geojson_paths: dict[str, str], out_path: str) -> None:
    """S7 (ref :177-181): tippecanoe shell adapter — a process boundary
    outside the engine; raises when the tool is absent.  The layer
    assembly and invocation are real (tested against a PATH fake);
    deterministic layer order so repeated builds are bit-comparable."""
    import shutil
    import subprocess

    if shutil.which("tippecanoe") is None:
        raise NotImplementedError(
            "tippecanoe not installed; S7 is a driver-side post-step "
            "adapter (ref il_analysis_git.py:177-181)"
        )
    layers = []
    for name in sorted(geojson_paths):
        layers += ["-L", f"{name}:{geojson_paths[name]}"]
    subprocess.run(
        ["tippecanoe", "-zg", "-f", "-o", out_path, *layers], check=True
    )


def upload_s3(local_path: str, bucket: str, key: str, client=None) -> None:
    """S8 (ref :188-189,:214-215): S3 upload adapter.  For data
    artifacts prefer ``df.write`` to ``s3a://`` URIs; binary tiles go
    through this driver-side seam.

    ``client`` is the injection point — anything with boto3's
    ``upload_file(Filename, Bucket, Key)`` shape (tested against a
    filesystem-backed fake).  ``None`` tries boto3 and raises the
    documented gate when it is absent (this environment)."""
    import os

    if client is None:
        try:
            import boto3  # noqa: F401
        except ImportError:
            raise NotImplementedError(
                "no object store in this environment; at scale write data "
                "via df.write.parquet('s3a://...') and upload tiles via "
                "boto3, or inject a client"
            ) from None
        client = boto3.client("s3")
    if not os.path.isfile(local_path):
        raise FileNotFoundError(local_path)
    client.upload_file(local_path, bucket, key)


def publish_mapbox(
    tileset: str, mbtiles_path: str, api_key: str, transport=None
) -> dict:
    """S9 (ref :182-199): Mapbox-style uploads-API publish — network
    adapter outside the engine.  The three-step public flow is real
    and tested against an in-memory fake; only the HTTP layer is
    injected:

    1. request temporary staging credentials for the account,
    2. stage the artifact to the returned location,
    3. create the upload job binding the staged object to the tileset.

    ``transport`` needs ``request(method, path, payload=None) -> dict``
    and ``stage_file(credentials, local_path) -> str`` (returns the
    staged URL).  ``None`` raises the documented gate — there is no
    network in this environment, and credentials must never be baked
    in."""
    if transport is None:
        raise NotImplementedError(
            "network publish is a driver-side post-step; inject a "
            "transport to run the uploads flow"
        )
    account = tileset.split(".", 1)[0]
    creds = transport.request(
        "POST", f"/uploads/v1/{account}/credentials?access_token={api_key}"
    )
    staged_url = transport.stage_file(creds, mbtiles_path)
    return transport.request(
        "POST",
        f"/uploads/v1/{account}?access_token={api_key}",
        payload={"url": staged_url, "tileset": tileset},
    )


def write_bucketed_table(
    df: DataFrame,
    table: str,
    bucket_col: str,
    n_buckets: int = 16,
    sort_col: str | None = None,
    mode: str = "overwrite",
) -> None:
    """Bucketed managed-table sink — the co-located-join storage layout.

    Writing both sides of a recurring equi-join bucketed by the join key
    (same bucket count) lets Spark plan the join with ZERO exchanges:
    each task reads matching buckets from both tables (asserted in
    tests/test_plan.py::test_bucketed_join_has_no_exchange).  At 100 TB
    this is the difference between re-shuffling the fact table per query
    and shuffling it once at ingest.  ``sort_col`` additionally orders
    within buckets, letting sort-merge joins skip the per-task sort."""
    w = df.write.format("parquet").mode(mode).bucketBy(n_buckets, bucket_col)
    if sort_col is not None:
        w = w.sortBy(sort_col)
    w.saveAsTable(table)


def write_jsonl(df, path: str, n_files: int | None = None) -> None:
    """JSON-lines sink (r06): one JSON object per row, optionally
    coalesced to a bounded file count for downstream consumers that
    glob shards.  Distributed write — no driver materialization."""
    out = df.coalesce(n_files) if n_files else df
    out.write.mode("overwrite").json(path)


def write_orc(df, path: str, partition_by: list[str] | None = None) -> None:
    """ORC sink (r06), partition-layout aware — the interop surface
    for Hive/Trino consumers; same dynamic-partition semantics as the
    parquet export path."""
    w = df.write.mode("overwrite")
    if partition_by:
        w = w.partitionBy(*partition_by)
    w.orc(path)
