"""Sources/sinks: MOH CSV ingest -> clean roundtrip, GeoJSON
reader/writer roundtrip, dates-array CSV shape."""

from __future__ import annotations

import csv
import json
import os


MOH_CSV = """town_code,agas_code,date,accumulated_cases,new_cases_on_date,accumulated_diagnostic_tests,accumulated_vaccination_first_dose,new_vacc_first_dose_on_date,town
5000,1,2021-01-01,<15,TRUE,20,<15,FALSE,TLV
5000,1,2021-01-02,17,TRUE,25,<15,TRUE,TLV
,,2021-01-01,<15,FALSE,<15,<15,FALSE,NAN
0,,2021-01-02,<15,FALSE,<15,<15,FALSE,NAN
"""


def test_moh_csv_ingest_clean(spark, tmp_path):
    from clear_map_data_pipeline_spark.operators.clean import clean_moh
    from clear_map_data_pipeline_spark.sources.readers import read_moh_csv

    p = tmp_path / "moh.csv"
    p.write_text(MOH_CSV)
    raw = read_moh_csv(spark, str(p), extra_cols=["town"])
    cleaned = clean_moh(raw)
    rows = {(r["city"], r["area"], str(r["date"])): r for r in cleaned.collect()}
    # null/0-keyed rows dropped (F2); the two TLV rows survive
    assert len(rows) == 2
    r1 = rows[(5000, 1, "2021-01-01")]
    assert r1["cases"] == 0 and r1["new_case"] == 1 and r1["tests"] == 20.0
    assert r1["id"] == 50000001
    r2 = rows[(5000, 1, "2021-01-02")]
    assert r2["cases"] == 17 and r2["vaccine"] == 0.0 and r2["new_vaccine"] == 1


def test_geojson_roundtrip(spark, tmp_path):
    from clear_map_data_pipeline_spark.sources.readers import read_geojson
    from clear_map_data_pipeline_spark.sources.writers import write_geojson

    fc = {
        "type": "FeatureCollection",
        "features": [
            {
                "type": "Feature",
                "properties": {"id": 1, "name": "a", "date": "2021-01-01"},
                "geometry": {
                    "type": "Polygon",
                    "coordinates": [[[0, 0], [1, 0], [1, 1], [0, 0]]],
                },
            },
            {
                "type": "Feature",
                "properties": {"id": 2, "name": "b", "date": "2021-01-02"},
                "geometry": {
                    "type": "Polygon",
                    "coordinates": [[[2, 2], [3, 2], [3, 3], [2, 2]]],
                },
            },
        ],
    }
    src = tmp_path / "in.geojson"
    src.write_text(json.dumps(fc))
    df = read_geojson(spark, str(src))
    assert sorted(df.columns) == ["date", "geometry", "id", "name"]
    assert df.count() == 2
    assert df.filter(df.geometry.startswith("POLYGON")).count() == 2

    out = tmp_path / "out.geojson"
    write_geojson(df, str(out), order_by=["id"])
    back = json.loads(out.read_text())
    assert back["type"] == "FeatureCollection" and len(back["features"]) == 2
    assert back["features"][0]["properties"]["id"] == 1
    assert back["features"][0]["geometry"]["type"] == "Polygon"


def test_dates_array_csv(tmp_path):
    from clear_map_data_pipeline_spark.sources.writers import write_dates_array_csv

    p = tmp_path / "dates.csv"
    write_dates_array_csv(
        str(p),
        {"all": ["2021-01-01", "2021-01-02"], "colors_all": [1, 2, 3], "sum_all": [9]},
    )
    with open(p) as f:
        rows = list(csv.reader(f))
    assert rows[0] == ["all", "colors_all", "sum_all"]
    assert len(rows) == 4  # header + zip_longest over the longest list
    assert rows[1] == ["2021-01-01", "1", "9"]
    assert rows[3] == ["", "3", ""]


def test_custom_datasource_splittable_csv(spark, tmp_path):
    """S1 strategic path: the custom Python DataSource must (a) expose
    the header's dirty all-string schema, (b) return exactly the rows
    the native CSV reader does, and (c) do so across multiple byte-range
    partitions without losing or duplicating boundary lines."""
    import csv as _c

    from clear_map_data_pipeline_spark.sources.moh_datasource import (
        MohCsvReader,
        register_moh_source,
    )

    path = tmp_path / "moh.csv"
    with open(path, "w", newline="") as f:
        w = _c.writer(f)
        w.writerow(["town_code", "agas_code", "date", "accumulated_cases"])
        for i in range(157):
            w.writerow([str(1000 + i % 7), str(i % 5), f"2021-01-{i % 28 + 1:02d}",
                        "<15" if i % 11 == 0 else str(i)])

    register_moh_source(spark)
    got = (
        spark.read.format("moh_csv")
        .option("path", str(path))
        .option("numpartitions", "5")
        .load()
    )
    want = spark.read.option("header", True).option(
        "inferSchema", False
    ).csv(str(path))
    assert got.columns == want.columns
    assert [str(f.dataType) for f in got.schema.fields] == ["StringType()"] * 4
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, want.collect()))

    reader = MohCsvReader(got.schema, {"path": str(path), "numpartitions": "5"})
    assert len(reader.partitions()) == 5


def test_custom_datasource_boundary_sweep(spark, tmp_path):
    """Pure-python sweep: every partition count must yield exactly the
    same 157-row multiset — no boundary line lost or read twice."""
    import csv as _c

    from clear_map_data_pipeline_spark.sources.moh_datasource import (
        MohCsvDataSource,
    )

    path = tmp_path / "sweep.csv"
    with open(path, "w", newline="") as f:
        w = _c.writer(f)
        w.writerow(["a", "b"])
        for i in range(157):
            w.writerow([str(i), "x" * (i % 13)])

    ds = MohCsvDataSource({"path": str(path)})
    schema = ds.schema()
    baseline = None
    for n in range(1, 13):
        from clear_map_data_pipeline_spark.sources.moh_datasource import (
            MohCsvReader,
        )

        reader = MohCsvReader(schema, {"path": str(path), "numpartitions": str(n)})
        rows = sorted(
            r for p in reader.partitions() for r in reader.read(p)
        )
        if baseline is None:
            baseline = rows
        assert rows == baseline, f"numpartitions={n}"
    assert len(baseline) == 157


def test_sql_surface_via_views(spark, sf_dir):
    """The fixture tables, as temp views under the oracle's names, take
    ANSI queries verbatim on the engine."""
    from clear_map_data_pipeline_spark.session import Tables

    tables = Tables(spark, sf_dir)
    for name in ("customer", "nation"):
        getattr(tables, name).createOrReplaceTempView(name)
    got = spark.sql(
        """
        SELECT n_name, CAST(count(*) AS BIGINT) AS n
        FROM customer JOIN nation ON c_nationkey = n_nationkey
        GROUP BY n_name ORDER BY n DESC, n_name LIMIT 3
        """
    ).collect()
    assert len(got) == 3 and all(r["n"] > 0 for r in got)


def test_normalize_parquet_confs_pins_utc(spark):
    """r02 ADVICE: an embedding caller's non-UTC session must not shift
    to_date()/window('1 day') bucketing relative to the naive-UTC
    oracle — normalize_parquet_confs pins the session timezone too."""
    from clear_map_data_pipeline_spark.session import normalize_parquet_confs

    spark.conf.set("spark.sql.session.timeZone", "Asia/Jerusalem")
    try:
        normalize_parquet_confs(spark)
        assert spark.conf.get("spark.sql.session.timeZone") == "UTC"
    finally:
        spark.conf.set("spark.sql.session.timeZone", "UTC")


# ---- S7-S9 adapter seams, exercised against fakes (r04) --------------


def test_build_mbtiles_happy_path_with_path_fake(tmp_path, monkeypatch):
    """A fake tippecanoe on PATH: the adapter must invoke it with
    deterministic layer order and the -o target, and the tool's output
    must land where asked."""
    from clear_map_data_pipeline_spark.sources.writers import build_mbtiles

    fake = tmp_path / "bin" / "tippecanoe"
    fake.parent.mkdir()
    fake.write_text(
        "#!/bin/sh\n"
        'args="$@"\n'
        "while [ $# -gt 0 ]; do\n"
        '  if [ "$1" = "-o" ]; then out="$2"; fi\n'
        "  shift\n"
        "done\n"
        'echo "$args" > "$out"\n'
    )
    fake.chmod(0o755)
    monkeypatch.setenv(
        "PATH", f"{fake.parent}:{os.environ['PATH']}"
    )
    ga = tmp_path / "a.geojson"
    gb = tmp_path / "b.geojson"
    ga.write_text("{}")
    gb.write_text("{}")
    out = tmp_path / "tiles.mbtiles"
    build_mbtiles({"beta": str(gb), "alpha": str(ga)}, str(out))
    recorded = out.read_text().split()
    # sorted layer order: alpha before beta, regardless of dict order
    assert recorded[recorded.index("-L") + 1] == f"alpha:{ga}"
    assert f"beta:{gb}" in recorded
    assert "-zg" in recorded and "-f" in recorded


def test_build_mbtiles_gated_when_tool_absent(tmp_path, monkeypatch):
    import pytest

    from clear_map_data_pipeline_spark.sources.writers import build_mbtiles

    monkeypatch.setenv("PATH", str(tmp_path))  # empty PATH: no tool
    with pytest.raises(NotImplementedError, match="tippecanoe"):
        build_mbtiles({}, str(tmp_path / "x.mbtiles"))


class _FakeS3Client:
    """boto3-shaped, filesystem-backed."""

    def __init__(self, root):
        self.root = root

    def upload_file(self, Filename, Bucket, Key):
        dest = os.path.join(self.root, Bucket, Key)
        os.makedirs(os.path.dirname(dest), exist_ok=True)
        with open(Filename, "rb") as s, open(dest, "wb") as d:
            d.write(s.read())


def test_upload_s3_happy_path_with_fake_client(tmp_path):
    from clear_map_data_pipeline_spark.sources.writers import upload_s3

    src = tmp_path / "tiles.mbtiles"
    src.write_bytes(b"tile-bytes")
    store = tmp_path / "object-store"
    upload_s3(
        str(src), "corona-bucket", "maps/latest.mbtiles",
        client=_FakeS3Client(str(store)),
    )
    assert (
        store / "corona-bucket" / "maps" / "latest.mbtiles"
    ).read_bytes() == b"tile-bytes"


def test_upload_s3_gated_without_client_or_boto3(tmp_path, monkeypatch):
    import sys

    import pytest

    from clear_map_data_pipeline_spark.sources.writers import upload_s3

    # simulate boto3 absence regardless of the container's packages
    monkeypatch.setitem(sys.modules, "boto3", None)
    src = tmp_path / "f.bin"
    src.write_bytes(b"x")
    with pytest.raises(NotImplementedError, match="boto3"):
        upload_s3(str(src), "b", "k")


def test_upload_s3_missing_file_fails_before_upload(tmp_path):
    import pytest

    from clear_map_data_pipeline_spark.sources.writers import upload_s3

    with pytest.raises(FileNotFoundError):
        upload_s3(
            str(tmp_path / "absent"), "b", "k",
            client=_FakeS3Client(str(tmp_path)),
        )


class _FakeUploadsTransport:
    """In-memory uploads-API fake: credentials -> staging -> job."""

    def __init__(self):
        self.staged = {}
        self.jobs = []

    def request(self, method, path, payload=None):
        assert method == "POST"
        if "/credentials" in path:
            return {"stage_id": "stg-1", "token": "tmp-token"}
        self.jobs.append((path, payload))
        return {"id": "job-1", "tileset": payload["tileset"], "complete": False}

    def stage_file(self, credentials, local_path):
        with open(local_path, "rb") as f:
            self.staged[credentials["stage_id"]] = f.read()
        return f"fake://staging/{credentials['stage_id']}"


def test_publish_mapbox_happy_path_with_fake_transport(tmp_path):
    from clear_map_data_pipeline_spark.sources.writers import publish_mapbox

    tiles = tmp_path / "t.mbtiles"
    tiles.write_bytes(b"mb")
    tr = _FakeUploadsTransport()
    job = publish_mapbox("acct.corona", str(tiles), "key-123", transport=tr)
    assert job["tileset"] == "acct.corona"
    assert tr.staged["stg-1"] == b"mb"
    (path, payload), = tr.jobs
    assert path.startswith("/uploads/v1/acct?")
    assert payload["url"].startswith("fake://staging/")


def test_publish_mapbox_gated_without_transport(tmp_path):
    import pytest

    from clear_map_data_pipeline_spark.sources.writers import publish_mapbox

    with pytest.raises(NotImplementedError, match="transport"):
        publish_mapbox("a.b", str(tmp_path / "t.mbtiles"), "k")


def test_jsonl_roundtrip_with_corrupt_line(spark, tmp_path):
    """JSONL write -> read round-trips values and types; a corrupt
    line lands in _corrupt_record under an explicit schema instead of
    failing the read."""
    from pyspark.sql import types as T

    from clear_map_data_pipeline_spark.sources.readers import read_jsonl
    from clear_map_data_pipeline_spark.sources.writers import write_jsonl

    df = spark.createDataFrame(
        [(1, "alpha", 1.5), (2, "beta", -2.0)], ["id", "name", "score"]
    )
    out = str(tmp_path / "docs_jsonl")
    write_jsonl(df, out, n_files=1)
    back = read_jsonl(
        spark,
        out,
        T.StructType(
            [
                T.StructField("id", T.LongType()),
                T.StructField("name", T.StringType()),
                T.StructField("score", T.DoubleType()),
            ]
        ),
    )
    assert sorted(map(tuple, back.collect())) == [
        (1, "alpha", 1.5),
        (2, "beta", -2.0),
    ]

    # corrupt line: permissive mode captures, does not abort
    bad = tmp_path / "bad.jsonl"
    bad.write_text('{"id": 3, "name": "ok", "score": 0.0}\n{oops\n')
    schema = T.StructType(
        [
            T.StructField("id", T.LongType()),
            T.StructField("name", T.StringType()),
            T.StructField("score", T.DoubleType()),
            T.StructField("_corrupt_record", T.StringType()),
        ]
    )
    rows = read_jsonl(spark, str(bad), schema).collect()
    good = [r for r in rows if r["_corrupt_record"] is None]
    corrupt = [r for r in rows if r["_corrupt_record"] is not None]
    assert len(good) == 1 and good[0]["id"] == 3
    assert len(corrupt) == 1


def test_orc_roundtrip_partitioned_and_pushdown(spark, tmp_path, sf_dir):
    """ORC write (partitioned) -> read preserves values; filters and
    column pruning reach the ORC scan like parquet's."""
    import contextlib
    import io
    import re

    from pyspark.sql import functions as F

    from clear_map_data_pipeline_spark.session import Tables
    from clear_map_data_pipeline_spark.sources.readers import read_orc
    from clear_map_data_pipeline_spark.sources.writers import write_orc

    nation = Tables(spark, sf_dir).nation
    out = str(tmp_path / "nation_orc")
    write_orc(nation, out, partition_by=["n_regionkey"])
    back = read_orc(spark, out)
    want = sorted(
        (r["n_nationkey"], r["n_name"], r["n_regionkey"])
        for r in nation.collect()
    )
    got = sorted(
        (r["n_nationkey"], r["n_name"], int(r["n_regionkey"]))
        for r in back.collect()
    )
    assert got == want

    q = back.filter(F.col("n_regionkey") == 1).select("n_name")
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        q.explain("formatted")
    plan = buf.getvalue()
    # partition pruning on the partition column + pruned ReadSchema
    assert re.search(r"Scan orc", plan), plan
    m = re.search(r"ReadSchema: struct<([^>]*)>", plan)
    assert m and set(
        c.split(":")[0] for c in m.group(1).split(",") if c
    ) == {"n_name"}, plan
