"""Focused tests for the scheduling-overhead helpers in session.py:
``literal_frame`` (driver-known rows as an Arrow-built LocalRelation —
zero-task broadcast builds) and ``data_proportional_partitions``
(byte-sized partition counts replacing ``defaultParallelism``
constants, with a fallback when the private size-estimate API
fails)."""

from __future__ import annotations

import datetime
import math
import struct

import pytest
from pyspark.sql import functions as F

from clear_map_data_pipeline_spark.session import (
    Tables,
    data_proportional_partitions,
    literal_frame,
)


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_literal_frame_is_local_relation(spark):
    df = literal_frame(
        spark, [(1, "a", 0.5), (2, "b", 1.5)], "k int, s string, v double"
    )
    assert "LocalTableScan" in _plan(df)
    assert "Scan ExistingRDD" not in _plan(df)
    assert df.dtypes == [("k", "int"), ("s", "string"), ("v", "double")]


def _sorted_rows(df):
    return sorted(map(tuple, df.collect()), key=repr)


def test_literal_frame_matches_create_dataframe(spark):
    rows = [
        (1, "it's", -0.0),
        (2, 'back\\slash "q"', 2.0**-13),
        (None, None, None),
        (3, "plain", 1e308),
    ]
    ddl = "k int, s string, v double"
    # dates, timestamps and maps go through the DDL -> Arrow type mapping
    # and the session-zone handling of the Arrow path
    dated = [
        (datetime.date(2020, 1, 2), datetime.datetime(2020, 3, 4, 5, 6, 7, 8),
         {"a": 1, "b": None}),
        (None, None, None),
        (datetime.date(1969, 12, 31), datetime.datetime(1999, 12, 31, 23, 59),
         {}),
    ]
    dated_ddl = "d date, t timestamp, m map<string,int>"
    key = "spark.sql.session.timeZone"
    prev = spark.conf.get(key)
    try:
        for tz in ("UTC", "America/Los_Angeles"):
            spark.conf.set(key, tz)
            for r, d in ((rows, ddl), (dated, dated_ddl)):
                got = literal_frame(spark, r, d)
                want = spark.createDataFrame(r, d)
                assert got.dtypes == want.dtypes
                assert _sorted_rows(got) == _sorted_rows(want), tz
                # the session zone renders both frames' timestamps alike
                text = [F.col(c).cast("string") for c in got.columns]
                assert _sorted_rows(got.select(text)) == _sorted_rows(
                    want.select(text)
                ), tz
    finally:
        spark.conf.set(key, prev)


def test_literal_frame_double_bits_survive_roundtrip(spark):
    vals = [
        0.1,
        2.0**-13,
        1e308,
        -1.2345678901234567e-300,
        math.pi,
        2.675,
        float("inf"),
        float("-inf"),
    ]
    df = literal_frame(spark, [(v,) for v in vals], "v double")
    got = [r["v"] for r in df.collect()]
    assert [struct.pack("d", v) for v in vals] == [
        struct.pack("d", g) for g in got
    ]
    (nan,) = literal_frame(spark, [(float("nan"),)], "v double").collect()[0]
    assert math.isnan(nan)


def test_literal_frame_array_of_double(spark):
    rows = [(7, [0.25, -1.5, 2.0**-20]), (9, None)]
    df = literal_frame(spark, rows, "cid long, _c array<double>")
    got = {r["cid"]: r["_c"] for r in df.collect()}
    assert got[7] == [0.25, -1.5, 2.0**-20]
    assert got[9] is None
    assert "LocalTableScan" in _plan(df)


def test_literal_frame_empty_and_struct_type_schema(spark):
    base = spark.createDataFrame([], "k int, s string")
    df = literal_frame(spark, [], base.schema)
    assert df.count() == 0
    assert df.dtypes == [("k", "int"), ("s", "string")]
    # empty LocalRelation: no parallelized empty slices to schedule
    assert df.rdd.getNumPartitions() <= 1


@pytest.mark.parametrize("escaped", ["false", "true"])
def test_literal_frame_strings_parse_under_both_escape_modes(spark, escaped):
    vals = ["it's", "''", "back\\slash", "\\'", "tab\there", "plain", "ünï"]
    key = "spark.sql.parser.escapedStringLiterals"
    prev = spark.conf.get(key)
    spark.conf.set(key, escaped)
    try:
        df = literal_frame(spark, [(v,) for v in vals], "s string")
        got = [r["s"] for r in df.collect()]
    finally:
        spark.conf.set(key, prev)
    assert got == vals


def test_literal_frame_empty_arrays_keep_declared_type(spark):
    df = literal_frame(spark, [(1, []), (2, [])], "k int, a array<double>")
    assert df.dtypes == [("k", "int"), ("a", "array<double>")]
    assert [r["a"] for r in df.collect()] == [[], []]


@pytest.mark.parametrize(
    "ddl, bad, edge",
    [
        ("v tinyint", 128, -128),
        ("v smallint", -32769, 32767),
        ("v int", 2**31, -(2**31)),
        ("v bigint", -(2**63) - 1, 2**63 - 1),
    ],
)
def test_literal_frame_rejects_out_of_range_integers(spark, ddl, bad, edge):
    ansi = "spark.sql.ansi.enabled"
    prev = spark.conf.get(ansi)
    spark.conf.set(ansi, "false")  # where a CAST would wrap silently
    try:
        with pytest.raises(ValueError):
            literal_frame(spark, [(bad,)], ddl)
        assert literal_frame(spark, [(edge,)], ddl).collect()[0]["v"] == edge
    finally:
        spark.conf.set(ansi, prev)


def test_data_proportional_partitions_small_input_is_one(spark, sf_dir):
    li = Tables(spark, sf_dir).lineitem
    v = li.select(F.col("l_extendedprice").alias("_v"))
    # a KB-scale projected column must not get a per-core partition count
    assert data_proportional_partitions(v) == 1


def test_data_proportional_partitions_scales_with_bytes(spark, sf_dir):
    li = Tables(spark, sf_dir).lineitem
    v = li.select(F.col("l_extendedprice").alias("_v"))
    est = int(v._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())
    assert data_proportional_partitions(v, target_bytes=est // 4 + 1) in (
        4,
        5,
    )
    # unusable estimate (simulated via absurd target) still bounded >= 1
    assert data_proportional_partitions(v, target_bytes=1 << 60) == 1


def test_data_proportional_partitions_falls_back_to_default_parallelism(spark):
    """The size estimate comes through private API
    (``_jdf.queryExecution()``).  When that call raises, or the
    estimate is unusable (0, or the 8 EB that missing stats read as),
    the helper returns ``defaultParallelism``."""
    from types import SimpleNamespace

    def frame(query_execution):
        return SimpleNamespace(
            sparkSession=spark,
            _jdf=SimpleNamespace(queryExecution=query_execution),
        )

    def broken():
        raise RuntimeError("queryExecution is not available")

    def with_estimate(size):
        stats = SimpleNamespace(sizeInBytes=lambda: size)
        plan = SimpleNamespace(stats=lambda: stats)
        return lambda: SimpleNamespace(optimizedPlan=lambda: plan)

    fallback = spark.sparkContext.defaultParallelism
    assert data_proportional_partitions(frame(broken)) == fallback
    for size in (0, 1 << 50, (1 << 63) - 1):
        got = data_proportional_partitions(frame(with_estimate(size)))
        assert got == fallback, size
    # a usable estimate through the same stand-in is sized, not defaulted
    assert data_proportional_partitions(
        frame(with_estimate(3 << 20)), target_bytes=1 << 20
    ) == 3


def test_quantile_vector_distributed_matches_builtin(spark, sf_dir):
    from clear_map_data_pipeline_spark.operators.stats import quantile_vector

    li = Tables(spark, sf_dir).lineitem
    dist = sorted(
        map(
            tuple,
            quantile_vector(
                li, "l_extendedprice", exact=True, distributed=True
            ).collect(),
        )
    )
    built = sorted(
        map(
            tuple,
            quantile_vector(
                li, "l_extendedprice", exact=True, distributed=False
            ).collect(),
        )
    )
    assert dist == built


def test_quantile_vector_distributed_above_the_literal_cap(spark, monkeypatch):
    """1,100 range partitions and 1,101 quantiles: the offsets and
    targets frames are data-sized literal frames (1,100 and 1,101 rows)
    and the result still equals the built-in."""
    from clear_map_data_pipeline_spark import session
    from clear_map_data_pipeline_spark.operators.stats import quantile_vector

    monkeypatch.setattr(
        session, "data_proportional_partitions", lambda df: 1_100
    )
    df = spark.range(4_000).select((F.col("id") * 0.37).alias("v"))
    qs = [i / 1_100 for i in range(1_101)]
    dist = quantile_vector(df, "v", qs, exact=True, distributed=True)
    built = quantile_vector(df, "v", qs, exact=True, distributed=False)
    got = sorted(map(tuple, dist.collect()))
    assert len(got) == len(qs)
    assert got == sorted(map(tuple, built.collect()))
