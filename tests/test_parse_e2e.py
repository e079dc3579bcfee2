"""Integration test for the COMPLETE reference ``parse()`` composition
(plans/parse.py): clean -> reconcile (geometry dissolve) -> rebase ->
join -> stats -> 4-window export -> 8 GeoJSON files + dates CSV, with
geometry flowing as WKT through the plan (VERDICT r01 'What's missing'
#2)."""

from __future__ import annotations

import csv
import datetime
import hashlib
import json

import pytest


def _sha(path: str) -> str:
    with open(path, "rb") as f:
        return hashlib.sha256(f.read()).hexdigest()


def test_parse_end_to_end(spark, sf_dir, tmp_path):
    from clear_map_data_pipeline_spark.plans.parse import parse

    out1 = tmp_path / "run1"
    artifacts = parse(spark, sf_dir, str(out1))

    # --- artifact inventory: 8 GeoJSON + 1 CSV -----------------------
    windows = ("all", "wave_2", "weeks_2", "weeks_1")
    expect = {f"{w}_polygons" for w in windows} | {
        f"{w}_lines" for w in windows
    } | {"dates_csv"}
    assert set(artifacts) == expect

    # --- polygons: valid FeatureCollection, full export schema -------
    with open(artifacts["all_polygons"], encoding="utf-8") as f:
        gj = json.load(f)
    assert gj["type"] == "FeatureCollection" and gj["features"]
    feat = gj["features"][0]
    assert feat["geometry"]["type"] in ("Polygon", "MultiPolygon")
    assert set(feat["properties"]) == {
        "date", "num_cases", "tests", "id", "socio_economic_rank",
        "area_name", "percent", "p_vaccine", "delta", "normalized",
    }

    # --- lines: 2 properties + boundary line geometry (ref :175) -----
    with open(artifacts["weeks_1_lines"], encoding="utf-8") as f:
        lj = json.load(f)
    lfeat = lj["features"][0]
    assert set(lfeat["properties"]) == {"date", "num_cases"}
    assert lfeat["geometry"]["type"] in ("LineString", "MultiLineString")

    # --- dates CSV: 12 ragged columns, 19-quantile colors ------------
    with open(artifacts["dates_csv"], newline="") as f:
        rows = list(csv.reader(f))
    header = rows[0]
    assert len(header) == 12
    for w in windows:
        for suffix in ("dates", "colors", "sums"):
            assert f"{w}_{suffix}" in header
    colors_idx = header.index("all_colors")
    colors = [r[colors_idx] for r in rows[1:] if r[colors_idx]]
    assert len(colors) == 19

    # --- determinism: byte-identical on rerun ------------------------
    out2 = tmp_path / "run2"
    artifacts2 = parse(spark, sf_dir, str(out2))
    for name in artifacts:
        assert _sha(artifacts[name]) == _sha(artifacts2[name]), name


# Upper bounds on the Spark jobs of one parse() and of one backfill-shaped
# run (run_pipeline without geometry, the four exports written to noop) of
# the sf0.01 fixture.  parse() measured 39 jobs: the shared prefix plus ONE
# collect of all four windows, colors computed on the driver.  The
# backfill shape measured 28-30.  The headroom absorbs AQE broadcast
# choices.  A collect plus a percentile aggregate per window ran 75 jobs
# in parse(); a shape dimension built as a five-branch union, each branch
# re-deriving the distinct users, ran 43 in the backfill shape.
PARSE_JOB_BUDGET = 48
BACKFILL_JOB_BUDGET = 36


@pytest.fixture(scope="module")
def gate_parse(spark, gate_sf_dir, tmp_path_factory):
    """One ``parse()`` of the sf0.01 fixture under its own job group:
    (artifact name -> path, its Spark run counts)."""
    from perfbench import probe

    from clear_map_data_pipeline_spark.plans.parse import parse

    tracer = probe.Tracer(spark.sparkContext)
    # a phase per fixture: group names restart at /0 per Tracer
    with tracer.span("parse() of sf0.01", "gate_parse") as sp:
        artifacts = parse(
            spark, gate_sf_dir, str(tmp_path_factory.mktemp("gate_parse"))
        )
    counts = probe.group_counts(tracer.sc, [sp["group"]])[sp["group"]]
    return artifacts, counts


@pytest.fixture(scope="module")
def gate_backfill_counts(spark, gate_sf_dir):
    """Spark run counts of one backfill-shaped run of the sf0.01
    fixture: ``run_pipeline(geometry=False)``, the four exports written
    to ``noop``, under one job group."""
    from perfbench import probe

    from clear_map_data_pipeline_spark.cachereg import release_all
    from clear_map_data_pipeline_spark.plans.clearmap import run_pipeline

    tracer = probe.Tracer(spark.sparkContext)
    with tracer.span("backfill shape of sf0.01", "gate_backfill") as sp:
        exports = run_pipeline(spark, gate_sf_dir, geometry=False)
        try:
            for df in exports.values():
                df.write.format("noop").mode("overwrite").save()
        finally:
            release_all()
    return probe.group_counts(tracer.sc, [sp["group"]])[sp["group"]]


def _csv_rows(path) -> list[list[str]]:
    with open(path, newline="") as f:
        return list(csv.reader(f))


def test_parse_matches_spark_operators(spark, gate_sf_dir, gate_parse, tmp_path):
    """parse() builds each window's lines file and dates-CSV columns on
    the driver from its one collect; they must equal the output of the
    Spark operators they stand in for: the ST_Boundary UDF ordered by
    (date, num_cases, geometry), ``distinct_ordered_dates``,
    ``daily_total_delta`` and the distributed rank-pick
    ``quantile_vector``."""
    from pyspark.sql import functions as F

    from clear_map_data_pipeline_spark.cachereg import release_all
    from clear_map_data_pipeline_spark.operators import spatial as sp
    from clear_map_data_pipeline_spark.operators import stats
    from clear_map_data_pipeline_spark.plans.clearmap import WINDOWS, run_pipeline
    from clear_map_data_pipeline_spark.sources.writers import (
        write_dates_array_csv,
        write_geojson,
    )

    artifacts, _ = gate_parse
    exports = run_pipeline(spark, gate_sf_dir, geometry=True)
    cols: dict[str, list] = {}
    try:
        for w in WINDOWS:
            export = exports[w]
            lines = export.select(
                "date",
                "num_cases",
                sp.st_boundary_udf()(F.col("geometry")).alias("geometry"),
            )
            path = str(tmp_path / f"{w}_lines.geojson")
            write_geojson(lines, path, order_by=("date", "num_cases", "geometry"))
            assert _sha(path) == _sha(artifacts[f"{w}_lines"]), w
            cols[f"{w}_dates"] = [
                r["date"].isoformat()
                for r in stats.distinct_ordered_dates(export).collect()
            ]
            cols[f"{w}_colors"] = [
                r["q_value"]
                for r in stats.quantile_vector(
                    export, "normalized", exact=True, distributed=True
                )
                .orderBy("q_idx")
                .collect()
            ]
            cols[f"{w}_sums"] = [
                r["daily_delta"]
                for r in stats.daily_total_delta(export, "num_cases")
                .orderBy("date")
                .collect()
            ]
    finally:
        release_all()
    want = tmp_path / "dates.csv"
    write_dates_array_csv(str(want), cols)
    assert _csv_rows(artifacts["dates_csv"]) == _csv_rows(want)


def test_parse_job_budget(gate_parse):
    """Job structure is pinned by count, not wall time: one parse() of
    the sf0.01 fixture stays under ``PARSE_JOB_BUDGET`` Spark jobs."""
    _, counts = gate_parse
    assert 0 < counts["jobs"] <= PARSE_JOB_BUDGET, counts


def test_backfill_job_budget(gate_backfill_counts):
    """The backfill shape of the sf0.01 fixture stays under
    ``BACKFILL_JOB_BUDGET`` Spark jobs."""
    jobs = gate_backfill_counts["jobs"]
    assert 0 < jobs <= BACKFILL_JOB_BUDGET, gate_backfill_counts


def _percentile_cases():
    import random

    rng = random.Random(7)
    cases = [
        ("empty", [], "long"),
        ("all_null", [None, None, None], "long"),
        ("one", [42], "long"),
        ("duplicates", [3, 3, 3, 7, 7, None, 3], "long"),
        ("negative", [-5, -123456789012, 0, -1, -7, 19], "long"),
        ("doubles", [0.1, 2.675, -0.0, 1e-9, 3.3, 1e15, 0.125], "double"),
        ("half_up_tie", [0.0, 2.5], "double"),
    ]
    for n in (2, 3, 17, 20, 21, 101, 1000):
        cases.append(
            (f"longs_{n}", [rng.randrange(-10**6, 10**6) for _ in range(n)], "long")
        )
        cases.append(
            (f"eighths_{n}", [rng.randrange(-800, 800) / 8 for _ in range(n)], "double")
        )
    return cases


def test_percentiles_match_spark_percentile(spark):
    """``_percentiles`` reproduces ``percentile`` + ``round(_, 2)``
    exactly (as ``quantile_vector(exact=True)`` computes the colors)
    over nulls, duplicates, negative longs, doubles, Spark's HALF_UP
    rounding of the shortest decimal, and random sizes around the
    quantile grid's interpolation points."""
    from clear_map_data_pipeline_spark.operators import stats
    from clear_map_data_pipeline_spark.plans.parse import _percentiles

    assert _percentiles([0.0, 2.5])[0] == 0.13  # round(0.125, 2) is 0.12
    for name, values, dtype in _percentile_cases():
        df = spark.createDataFrame([(v,) for v in values], f"normalized {dtype}")
        want = [
            r["q_value"]
            for r in stats.quantile_vector(df, "normalized", exact=True)
            .orderBy("q_idx")
            .collect()
        ]
        assert _percentiles(values) == want, name


def test_synth_shape_matches_duckdb_twin(spark, gate_sf_dir):
    """The one-pass ``synth_shape`` yields the same row multiset as the
    DuckDB twin's five-branch ``shape`` CTE (``queries/pipeline.py``) on
    the sf0.01 events, so a dropped or duplicated branch fails here
    directly."""
    import duckdb

    from clear_map_data_pipeline_spark.plans.clearmap import synth_shape
    from clear_map_data_pipeline_spark.queries.pipeline import _PREFIX_CTES
    from clear_map_data_pipeline_spark.session import Tables

    shape = synth_shape(Tables(spark, gate_sf_dir))
    cols = shape.columns
    rows = shape.collect()
    got = sorted(str(tuple(r)) for r in rows)
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW events AS SELECT * FROM '{gate_sf_dir}/events.parquet'"
    )
    want = sorted(
        str(r)
        for r in con.execute(
            f"WITH {_PREFIX_CTES} SELECT {', '.join(cols)} FROM shape"
        ).fetchall()
    )
    # every branch is populated: the city residue mod 4 tells them apart
    # (0 absent, 1 case 1, 2 case 2, 3 case 3/4), and a case-3 city has
    # two areas
    cities = [r["city"] for r in rows]
    assert {c % 4 for c in cities} == {0, 1, 2, 3}
    assert any(cities.count(c) == 2 for c in cities if c % 4 == 3)
    assert got == want


def test_driver_side_derivations_follow_spark_nulls(spark, tmp_path):
    """Nulls on the driver-side path: Spark ``sum`` ignores null
    ``num_cases`` (an all-null date totals NULL, and its deltas are
    NULL), the colors skip null ``normalized`` as ``percentile`` does,
    and the lines sort puts nulls first, as Spark's ascending
    ``orderBy``."""
    from pyspark.sql import functions as F

    from clear_map_data_pipeline_spark.operators import spatial as sp
    from clear_map_data_pipeline_spark.operators import stats
    from clear_map_data_pipeline_spark.plans.parse import _dates_columns, _lines_rows
    from clear_map_data_pipeline_spark.sources.writers import write_geojson

    sq = "POLYGON ((0 0, 1 0, 1 1, 0 1, 0 0))"
    big = "POLYGON ((0 0, 2 0, 2 2, 0 2, 0 0))"
    d = [datetime.date(2020, 3, i) for i in (1, 2, 3, 4)]
    export = spark.createDataFrame(
        [
            (1, d[0], 5, 1.5, sq),
            (2, d[0], None, 2.25, big),
            (1, d[1], None, None, sq),
            (2, d[1], None, 0.5, big),
            (1, d[2], 7, 3.0, big),
            (2, d[2], 7, 1.0, sq),
            (1, d[3], 2, 0.75, sq),
        ],
        "id int, date date, num_cases long, normalized double, geometry string",
    )
    rows = export.orderBy("id", "date").collect()
    got = _dates_columns(rows, "w")
    assert got["w_dates"] == [x.isoformat() for x in d]
    assert got["w_sums"] == [
        r["daily_delta"]
        for r in stats.daily_total_delta(export, "num_cases")
        .orderBy("date")
        .collect()
    ] == [5, None, None, -12]
    assert got["w_colors"] == [
        r["q_value"]
        for r in stats.quantile_vector(
            export, "normalized", exact=True, distributed=True
        )
        .orderBy("q_idx")
        .collect()
    ]
    want = export.select(
        "date",
        "num_cases",
        sp.st_boundary_udf()(F.col("geometry")).alias("geometry"),
    )
    assert _lines_rows(rows) == want.orderBy(
        "date", "num_cases", "geometry"
    ).collect()


def test_parse_geometry_matches_windowless_export(spark, sf_dir):
    """The geometry-carrying pipeline must not perturb the relational
    result: dropping geometry reproduces the oracle-checked
    pipeline_export frames exactly."""
    from clear_map_data_pipeline_spark.plans.clearmap import run_pipeline
    from clear_map_data_pipeline_spark.registry import load_all

    exports = run_pipeline(spark, sf_dir, geometry=True)
    got = sorted(
        map(str, (tuple(r) for r in exports["weeks_2"].drop("geometry").collect()))
    )
    q = load_all()["pipeline_export_weeks_2"].builder(spark, sf_dir)
    want = sorted(map(str, (tuple(r) for r in q.collect())))
    assert got == want


def test_parse_case3_geometry_dissolves_to_single_polygon(spark, sf_dir):
    """Case-3 cities' touching area squares must dissolve into ONE
    Polygon (edge-adjacent union), not a MultiPolygon assembly."""
    from pyspark.sql import functions as F

    from clear_map_data_pipeline_spark.plans.clearmap import run_pipeline

    exports = run_pipeline(spark, sf_dir, geometry=True)
    # case-3 ids are city*10000+1 for the g2 cities (city = 1003 + 4u,
    # i.e. city % 4 == 3) whose users have (u DIV 4) % 2 == 1 — two
    # shape areas (synth_shape g2_case3); the city % 4 filter also
    # admits case-4 cities, whose single square is a POLYGON anyway
    case3 = exports["all"].filter(
        (F.col("id") % 10000 == 1) & ((F.col("id") / 10000).cast("long") % 4 == 3)
    )
    geoms = [r["geometry"] for r in case3.select("geometry").distinct().collect()]
    assert geoms, "no case-3 rows in fixture"
    for g in geoms:
        assert g.startswith("POLYGON"), g
