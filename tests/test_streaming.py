"""Streaming daily totals must equal the batch aggregation for all
windows the watermark closed (append-mode emits closed windows only)."""

from __future__ import annotations

from pyspark.sql import functions as F


def test_stream_matches_batch(spark, sf_dir):
    from clear_map_data_pipeline_spark.session import Tables
    from clear_map_data_pipeline_spark.streaming.daily import daily_totals_stream

    streamed = daily_totals_stream(
        spark, f"{sf_dir}/events.parquet", query_name="t_stream_eq"
    )
    srows = {
        (r["date"], r["event_type"]): (r["n_events"], r["sum_value"])
        for r in streamed.collect()
    }
    assert len(srows) > 0, "no closed windows emitted"

    batch = (
        Tables(spark, sf_dir)
        .events.groupBy(F.to_date("ts").alias("date"), "event_type")
        .agg(F.count("*").alias("n"), F.round(F.sum("value"), 2).alias("s"))
    )
    brows = {
        (r["date"], r["event_type"]): (r["n"], r["s"]) for r in batch.collect()
    }
    # every emitted window must match the batch answer exactly
    for k, v in srows.items():
        assert brows[k] == v, (k, v, brows[k])


def test_stateful_sessions_match_batch(spark, sf_dir):
    """The stateful streaming sessionizer must emit exactly the batch
    sessionization answer minus trailing (still-open) sessions, PLUS
    those trailing sessions old enough for the event-time timeout:
    end + gap <= final watermark (max event time - 30 min delay)."""
    from pyspark.sql import Window

    from clear_map_data_pipeline_spark.session import Tables
    from clear_map_data_pipeline_spark.streaming.sessions import (
        user_sessions_stream,
    )

    streamed = user_sessions_stream(
        spark, f"{sf_dir}/events.parquet", query_name="t_sessions_eq"
    )
    srows = {
        (r["user_id"], r["session_start"]): (r["session_end"], r["n_events"])
        for r in streamed.collect()
    }
    assert len(srows) > 0, "no closed sessions emitted"

    ev = Tables(spark, sf_dir).events.select(
        "user_id", F.col("ts").cast("long").alias("t")
    )
    w = Window.partitionBy("user_id").orderBy("t")
    sess = (
        ev.withColumn(
            "is_new",
            F.when(
                F.lag("t").over(w).isNull()
                | (F.col("t") - F.lag("t").over(w) > 1800),
                1,
            ).otherwise(0),
        )
        .withColumn(
            "sid",
            F.sum("is_new").over(w.rowsBetween(Window.unboundedPreceding, 0)),
        )
        .groupBy("user_id", "sid")
        .agg(
            F.min("t").alias("start"),
            F.max("t").alias("end"),
            F.count("*").alias("n"),
        )
    )
    # watermark after the single drain: max event time (ms, floored)
    # minus the 30-minute delay; timed-out trailing sessions satisfy
    # (end + gap) * 1000 <= watermark_ms
    max_ts_ms = (
        Tables(spark, sf_dir)
        .events.agg(F.max(F.col("ts").cast("double")))
        .collect()[0][0]
    )
    wm_ms = int(max_ts_ms * 1000) - 30 * 60 * 1000
    closed = sess.withColumn(
        "last_sid", F.max("sid").over(Window.partitionBy("user_id"))
    ).filter(
        (F.col("sid") < F.col("last_sid"))
        | ((F.col("end") + 1800) * 1000 <= F.lit(wm_ms))
    )
    brows = {
        (r["user_id"], r["start"]): (r["end"], r["n"])
        for r in closed.collect()
    }
    assert srows == brows, (
        len(srows),
        len(brows),
        dict(list(srows.items())[:3]),
        dict(list(brows.items())[:3]),
    )


def test_incremental_export_matches_batch(spark, sf_dir, tmp_path):
    """foreachBatch + dynamic partition overwrite: the exported
    date-partitioned dataset must equal the batch daily aggregation,
    and a second drain of the same backlog must be a no-op (idempotent
    re-run on an existing checkpointless dataset)."""
    from clear_map_data_pipeline_spark.session import Tables
    from clear_map_data_pipeline_spark.streaming.export import (
        export_daily_partitions,
    )

    out = str(tmp_path / "daily_export")
    export_daily_partitions(spark, f"{sf_dir}/events.parquet", out)
    got = {
        (str(r["date"]), r["event_type"]): (r["n_events"], r["sum_value"])
        for r in spark.read.parquet(out).collect()
    }
    assert len(got) > 0

    batch = (
        Tables(spark, sf_dir)
        .events.groupBy(F.to_date("ts").alias("date"), "event_type")
        .agg(F.count("*").alias("n"), F.round(F.sum("value"), 2).alias("s"))
    )
    want = {
        (str(r["date"]), r["event_type"]): (r["n"], r["s"])
        for r in batch.collect()
    }
    assert got == want

    # re-drain into the same directory: partitions overwritten in place,
    # same content (no duplication from append semantics)
    export_daily_partitions(spark, f"{sf_dir}/events.parquet", out,
                            query_name="daily_export_2")
    again = {
        (str(r["date"]), r["event_type"]): (r["n_events"], r["sum_value"])
        for r in spark.read.parquet(out).collect()
    }
    assert again == want


def test_stream_dedup_exactly_once(spark, sf_dir):
    """A doubled backlog (every file delivered twice) must produce the
    SAME totals as the batch aggregation of a single copy — exactly-once
    ingest via dropDuplicatesWithinWatermark."""
    from clear_map_data_pipeline_spark.session import Tables
    from clear_map_data_pipeline_spark.streaming.dedup import (
        deduped_ingest_stream,
        stage_backlog,
    )

    doubled = stage_backlog(f"{sf_dir}/events.parquet", copies=2)
    streamed = deduped_ingest_stream(
        spark, doubled, query_name="t_dedup_stream"
    )
    got = {
        (str(r["date"]), r["event_type"]): (r["n_events"], r["sum_value"])
        for r in streamed.collect()
    }
    assert len(got) > 0

    batch = (
        Tables(spark, sf_dir)
        .events.groupBy(F.to_date("ts").alias("date"), "event_type")
        .agg(F.count("*").alias("n"), F.round(F.sum("value"), 2).alias("s"))
    )
    want = {
        (str(r["date"]), r["event_type"]): (r["n"], r["s"])
        for r in batch.collect()
    }
    # append mode emits closed windows only: at most the trailing two
    # days of windows (per event type) remain open under the 1-day
    # watermark.  Every emitted window must match the single-copy batch
    # answer exactly — doubled rows never inflate a count.
    n_types = len({k[1] for k in want})
    assert set(got).issubset(set(want))
    assert len(got) >= len(want) - 2 * n_types
    for k, v in got.items():
        assert want[k] == v, (k, v, want[k])


def test_session_merge_never_rewinds_end():
    """ADVICE r01: a late-but-within-watermark event (later microbatch,
    t < restored session end) must extend, not rewind, the session —
    a rewound end fakes a gap for the next event and splits spuriously."""
    from clear_map_data_pipeline_spark.streaming.sessions import (
        _assemble_factory,
    )

    class FakeState:
        def __init__(self, value):
            self._v = value
            self.hasTimedOut = False

        @property
        def exists(self):
            return self._v is not None

        @property
        def get(self):
            return self._v

        def update(self, v):
            self._v = v

        def remove(self):
            self._v = None

        def setTimeoutTimestamp(self, ts):
            pass

        def getCurrentWatermarkMs(self):
            return 0

    import pandas as pd

    assemble = _assemble_factory(gap_s=100)
    # batch 1 left a session (start=1000, end=1500, n=3) in state;
    # batch 2 delivers a late event at t=1450 then one at t=1520.
    state = FakeState((1000, 1500, 3))
    out = list(
        assemble(
            (7,), iter([pd.DataFrame({"ts_s": [1450, 1520]})]), state
        )
    )
    assert out == []  # nothing closed: both merge into the open session
    assert state.get == (1000, 1520, 5)

    # an event before the restored start extends the start
    state2 = FakeState((1000, 1500, 3))
    list(assemble((7,), iter([pd.DataFrame({"ts_s": [980]})]), state2))
    assert state2.get == (980, 1500, 4)


def test_enriched_stream_matches_batch_join(spark, sf_dir):
    """Stream-static enrichment must equal the batch join+agg for every
    closed window: same broadcast dimension, same inner-join drops."""
    from clear_map_data_pipeline_spark.session import Tables
    from clear_map_data_pipeline_spark.streaming.enrich import (
        enriched_daily_totals_stream,
    )

    events = Tables(spark, sf_dir).events
    # static dim over the observed event types; one type deliberately
    # missing so the inner-join drop path is exercised
    types = sorted(
        r["event_type"]
        for r in events.select("event_type").distinct().collect()
    )
    assert len(types) >= 2
    dim = spark.createDataFrame(
        [(t, f"cat_{i % 2}") for i, t in enumerate(types[:-1])],
        "event_type string, category string",
    )
    streamed = enriched_daily_totals_stream(
        spark, f"{sf_dir}/events.parquet", dim, query_name="t_enrich_eq"
    )
    srows = {
        (r["date"], r["category"]): (r["n_events"], r["sum_value"])
        for r in streamed.collect()
    }
    assert len(srows) > 0, "no closed windows emitted"

    batch = (
        events.join(F.broadcast(dim), "event_type")
        .groupBy(F.to_date("ts").alias("date"), "category")
        .agg(F.count("*").alias("n"), F.round(F.sum("value"), 2).alias("s"))
    )
    brows = {
        (r["date"], r["category"]): (r["n"], r["s"]) for r in batch.collect()
    }
    for k, v in srows.items():
        assert brows[k] == v, (k, v, brows[k])
    # the dropped type never appears
    assert all(c.startswith("cat_") for _, c in srows)


def test_stateful_sessions_multibatch_late_events(spark, tmp_path):
    """Out-of-order events arriving in a LATER microbatch (but above the
    watermark) must extend the open session's bounds, never rewind them
    — a rewound end fakes a gap for the next event and splits the
    session.  Forces two microbatches via maxFilesPerTrigger=1."""
    import datetime as dt
    import glob
    import os
    import shutil

    from clear_map_data_pipeline_spark.streaming.sessions import (
        user_sessions_stream,
    )

    def ts(s):
        return dt.datetime(2024, 1, 1) + dt.timedelta(seconds=s)

    base = int(ts(0).replace(tzinfo=dt.timezone.utc).timestamp())
    # batch A: user 1 open session [1000, 2000]; user 2 lone event
    a_rows = [(1, ts(1000)), (1, ts(2000)), (2, ts(1000))]
    # batch B: user 1 gets a LATE 1100 (within the 1800s watermark of
    # max-seen 2000) then 2900 — with the end preserved at 2000 the gap
    # to 2900 is 900 <= 1000 and the session stays whole; a rewound end
    # (1100) would fake an 1800s gap and split it.  user 2 jumps past
    # the gap -> genuine split.  user 99 anchors the final watermark.
    b_rows = [(1, ts(1100)), (1, ts(2900)), (2, ts(4000)), (99, ts(6000))]

    src = tmp_path / "src"
    src.mkdir()
    for name, rows, age in (("a", a_rows, 100), ("b", b_rows, 0)):
        stage = str(tmp_path / f"stage_{name}")
        spark.createDataFrame(rows, "user_id long, ts timestamp").coalesce(
            1
        ).write.parquet(stage)
        (part,) = glob.glob(f"{stage}/part-*.parquet")
        dest = str(src / f"{name}.parquet")
        shutil.move(part, dest)
        now = dt.datetime.now().timestamp()
        os.utime(dest, (now - age, now - age))

    out = user_sessions_stream(
        spark,
        str(src),
        gap_s=1000,
        watermark="30 minutes",
        query_name="t_sessions_late",
        max_files_per_trigger=1,
    )
    got = sorted(
        (r["user_id"], r["session_start"], r["session_end"], r["n_events"])
        for r in out.collect()
    )
    # user 1: ONE unbroken session including the late event; closed by
    # event-time timeout once the anchor pushes the watermark past
    # end+gap.  user 2: the pre-gap singleton closed by the split; the
    # post-gap session (4000+1000 > final watermark 4200) stays open.
    assert got == [
        (1, base + 1000, base + 2900, 4),
        (2, base + 1000, base + 1000, 1),
    ]


def test_stream_stream_interval_join_matches_batch(spark, sf_dir):
    """The watermarked stream-stream interval join must emit exactly the
    batch self-join's pairs (the backlog drains as one microbatch, so no
    match straddles a watermark eviction)."""
    from clear_map_data_pipeline_spark.session import Tables
    from clear_map_data_pipeline_spark.streaming.join import (
        interval_join_stream,
    )

    streamed = interval_join_stream(
        spark, f"{sf_dir}/events.parquet", query_name="t_ssjoin_eq"
    )
    srows = sorted(
        (r["user_id"], r["left_id"], r["right_id"], r["seconds_between"])
        for r in streamed.collect()
    )
    assert srows, "no joined pairs emitted"

    ev = Tables(spark, sf_dir).events
    left = ev.filter(F.col("event_type") == "view").select(
        F.col("user_id").alias("l_user"),
        F.col("event_id").alias("left_id"),
        F.col("ts").alias("l_ts"),
    )
    right = ev.filter(F.col("event_type") == "click").select(
        F.col("user_id").alias("r_user"),
        F.col("event_id").alias("right_id"),
        F.col("ts").alias("r_ts"),
    )
    batch = left.join(
        right,
        F.expr(
            "l_user = r_user AND r_ts > l_ts "
            "AND r_ts <= l_ts + INTERVAL 30 MINUTES"
        ),
    ).select(
        F.col("l_user").alias("user_id"),
        "left_id",
        "right_id",
        (F.col("r_ts").cast("long") - F.col("l_ts").cast("long")).alias(
            "seconds_between"
        ),
    )
    brows = sorted(
        (r["user_id"], r["left_id"], r["right_id"], r["seconds_between"])
        for r in batch.collect()
    )
    assert srows == brows


def test_streaming_merge_sink_maintains_keyed_table(spark, tmp_path):
    """Two CDC microbatches through the foreachBatch merge sink must
    leave exactly the table a single batch merge of all changes would:
    batch-2 updates override batch-1 inserts, deletes remove keys, and
    each epoch publishes a new version directory."""
    import glob
    import os
    import shutil

    from clear_map_data_pipeline_spark.streaming.merge_sink import (
        latest_version,
        streaming_merge_sink,
    )

    schema = "user_id long, name string, version long, op string"
    batch1 = [(1, "alice", 1, "I"), (2, "bob", 1, "I"), (3, "carol", 1, "I")]
    batch2 = [(2, "bobby", 2, "U"), (3, None, 2, "D"), (4, "dave", 2, "I")]

    src = tmp_path / "changes"
    src.mkdir()
    for name, rows, age in (("a", batch1, 100), ("b", batch2, 0)):
        stage = str(tmp_path / f"stage_{name}")
        spark.createDataFrame(rows, schema).coalesce(1).write.parquet(stage)
        (part,) = glob.glob(f"{stage}/part-*.parquet")
        dest = str(src / f"{name}.parquet")
        shutil.move(part, dest)
        import datetime as dt

        now = dt.datetime.now().timestamp()
        os.utime(dest, (now - age, now - age))

    table_root = str(tmp_path / "table")
    final = streaming_merge_sink(
        spark,
        str(src),
        table_root,
        key="user_id",
        query_name="t_merge_sink",
        max_files_per_trigger=1,
    )
    got = sorted((r["user_id"], r["name"]) for r in final.collect())
    assert got == [(1, "alice"), (2, "bobby"), (4, "dave")]
    # two published versions (one per microbatch), readers resolve max
    assert latest_version(table_root) is not None
    versions = sorted(d for d in os.listdir(table_root) if d.startswith("v"))
    assert len(versions) == 2


def test_lsh_bands_rejects_nondivisible_params(spark):
    import pytest as _pytest

    from clear_map_data_pipeline_spark.operators.dedup import lsh_bands

    sigs = spark.createDataFrame(
        [(1, "a", "b", "c")], "doc_id long, h0 string, h1 string, h2 string"
    )
    with _pytest.raises(ValueError, match="divisible"):
        lsh_bands(sigs, num_hashes=3, bands=2)


def test_streaming_merge_sink_late_lower_version_loses(spark, tmp_path):
    """Cross-batch version ordering (r02 ADVICE): a LOWER-version change
    arriving in a LATER microbatch must not beat the higher-version
    value already applied — the published table persists per-key
    versions and feeds them back as the next base."""
    import datetime as dt
    import glob
    import os
    import shutil

    from clear_map_data_pipeline_spark.streaming.merge_sink import (
        streaming_merge_sink,
    )

    schema = "user_id long, name string, version long, op string"
    batch1 = [(1, "alice_v3", 3, "U"), (2, "bob_v2", 2, "U")]
    batch2 = [(1, "alice_v1_late", 1, "U"), (2, "bob_v4", 4, "U")]

    src = tmp_path / "changes"
    src.mkdir()
    for name, rows, age in (("a", batch1, 100), ("b", batch2, 0)):
        stage = str(tmp_path / f"stage_{name}")
        spark.createDataFrame(rows, schema).coalesce(1).write.parquet(stage)
        (part,) = glob.glob(f"{stage}/part-*.parquet")
        dest = str(src / f"{name}.parquet")
        shutil.move(part, dest)
        now = dt.datetime.now().timestamp()
        os.utime(dest, (now - age, now - age))

    final = streaming_merge_sink(
        spark,
        str(src),
        str(tmp_path / "table"),
        key="user_id",
        query_name="t_merge_sink_late",
        max_files_per_trigger=1,
    )
    got = {r["user_id"]: (r["name"], r["version"]) for r in final.collect()}
    assert got == {1: ("alice_v3", 3), 2: ("bob_v4", 4)}, got


def test_streaming_daily_ewma_matches_batch(spark, sf_dir):
    """The stateful streaming daily-EWMA must equal the batch operator's
    answer over the same daily totals, restricted to days the final
    watermark closed (day end <= max event time - 30 min)."""
    from clear_map_data_pipeline_spark.operators.stats import ewma
    from clear_map_data_pipeline_spark.session import Tables
    from clear_map_data_pipeline_spark.streaming.ewma import (
        daily_ewma_stream,
    )

    streamed = daily_ewma_stream(
        spark, f"{sf_dir}/events.parquet", alpha=0.3, query_name="t_ewma_eq"
    )
    srows = {
        (r["user_id"], r["day"]): (r["day_total"], r["ewma"])
        for r in streamed.collect()
    }
    assert srows, "no closed days emitted"

    ev = Tables(spark, sf_dir).events
    daily = (
        # the stream's documented contract: days form from non-NULL
        # (ts, value) events only — same pre-filter here, or an
        # all-NULL day would appear batch-side with a NULL total
        ev.filter(F.col("value").isNotNull() & F.col("ts").isNotNull())
        .select(
            "user_id",
            (F.col("ts").cast("long") / 86400).cast("long").alias("day"),
            F.floor(F.col("value") * F.lit(1e6)).cast("long").alias("v6"),
        )
        .groupBy("user_id", "day")
        .agg((F.sum("v6") / F.lit(1e6)).alias("day_total"))
    )
    smoothed = ewma(daily, "day_total", 0.3, key="user_id", order="day")
    max_ts = (
        ev.agg(F.max(F.col("ts").cast("double"))).collect()[0][0]
    )
    wm_ms = int(max_ts * 1000) - 30 * 60 * 1000
    closed = smoothed.filter((F.col("day") + 1) * 86400 * 1000 <= wm_ms)
    brows = {
        (r["user_id"], r["day"]): (r["day_total"], r["ewma"])
        for r in closed.collect()
    }
    assert srows == brows, (
        len(srows), len(brows),
        dict(list(srows.items())[:3]), dict(list(brows.items())[:3]),
    )


def test_streaming_daily_ewma_multibatch_fold(spark, tmp_path):
    """The fold must be identical whether the backlog drains in one
    microbatch or file-by-file: the scaled-integer day totals make the
    accumulation order-free, and the state carries the untruncated
    accumulator across batches."""
    import datetime as dt

    from clear_map_data_pipeline_spark.streaming.ewma import (
        daily_ewma_stream,
    )

    import glob
    import math
    import os

    base = dt.datetime(2024, 3, 1, 12, 0, 0)
    src = str(tmp_path / "ev")
    # one file per event-day, written with strictly increasing mtimes:
    # the file source orders by modification time, so the drain replays
    # the days chronologically (identical-mtime files arrive in
    # arbitrary order, and an out-of-order day is LEGITIMATELY dropped
    # as late data under the watermark contract — not what this test
    # is about)
    stamped: set = set()
    for day in range(6):
        rows = [
            (1, base + dt.timedelta(days=day, minutes=k),
             10.0 * (day + 1) + 0.25 * k)
            for k in range(3)
        ]
        spark.createDataFrame(
            rows, "user_id long, ts timestamp, value double"
        ).coalesce(1).write.mode("append").parquet(src)
        for f in glob.glob(src + "/part-*"):  # stamp in WRITE order
            if f not in stamped:
                os.utime(f, (1_700_000_000 + day, 1_700_000_000 + day))
                stamped.add(f)

    one = daily_ewma_stream(spark, src, alpha=0.5, query_name="t_ewma_one")
    rows_one = sorted(map(tuple, one.collect()))
    many = daily_ewma_stream(
        spark, src, alpha=0.5, query_name="t_ewma_many",
        max_files_per_trigger=1,
    )
    rows_many = sorted(map(tuple, many.collect()))
    assert rows_one, "nothing emitted"
    assert rows_one == rows_many
    # literal recurrence over the day totals (3 events/day:
    # sum_k 10*(d+1) + 0.25*k = 30*(d+1) + 0.75)
    totals = [30.0 * (d + 1) + 0.75 for d in range(6)]
    y = None
    expect = []
    for t in totals:
        y = t if y is None else 0.5 * y + 0.5 * t
        expect.append((t, math.floor(y * 1e6) / 1e6))
    # final watermark = day5 12:02 - 30 min, which closes days 0..4
    assert len(rows_one) == 5
    for (uid, _day, tot, ew), (etot, eew) in zip(rows_one, expect):
        assert uid == 1 and abs(tot - etot) < 1e-9
        assert ew == eew


def _split_backlog(spark, sf_dir, dest, n=4, copies=1):
    """Stage the events fixture as ``n`` time-ordered parquet files
    (ts quartiles, ascending mtimes so the file source replays them in
    event-time order), each delivered ``copies`` times with re-delivery
    adjacent to the original — a realistic many-microbatch backlog."""
    import datetime as dt
    import glob
    import os
    import shutil

    from pyspark.sql import Window

    from clear_map_data_pipeline_spark.session import normalize_parquet_confs

    normalize_parquet_confs(spark)
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    w = Window.orderBy(F.col("ts").asc_nulls_first(), "event_id")
    tiled = ev.withColumn("_tile", F.ntile(n).over(w))
    os.makedirs(dest, exist_ok=True)
    now = dt.datetime.now().timestamp()
    seq = 0
    for i in range(1, n + 1):
        stage = f"{dest}_stage_{i}"
        tiled.filter(F.col("_tile") == i).drop("_tile").coalesce(
            1
        ).write.parquet(stage)
        (part,) = glob.glob(f"{stage}/part-*.parquet")
        for c in range(copies):
            f = os.path.join(dest, f"{i:02d}_{c}.parquet")
            if c == 0:
                shutil.move(part, f)
            else:
                os.symlink(os.path.join(dest, f"{i:02d}_0.parquet"), f)
            os.utime(f, (now - 1000 + seq * 10, now - 1000 + seq * 10))
            seq += 1
    return dest


def test_streaming_multibatch_rocksdb_sweep(spark, sf_dir, tmp_path):
    """r03-verdict task: ALL four registered streaming queries drained
    file-by-file (maxFilesPerTrigger=1) on the RocksDB state-store
    provider must emit EXACTLY the single-batch default-provider
    answers — cross-microbatch state/watermark handling and the
    production store backend, proven equivalent in one sweep."""
    from clear_map_data_pipeline_spark.streaming.daily import (
        daily_totals_stream,
    )
    from clear_map_data_pipeline_spark.streaming.dedup import (
        deduped_ingest_stream,
        stage_backlog,
    )
    from clear_map_data_pipeline_spark.streaming.drain import (
        ROCKSDB_PROVIDER,
    )
    from clear_map_data_pipeline_spark.streaming.export import (
        export_daily_partitions,
    )
    from clear_map_data_pipeline_spark.streaming.sessions import (
        user_sessions_stream,
    )

    split = _split_backlog(spark, sf_dir, str(tmp_path / "split"), n=4)
    split2 = _split_backlog(
        spark, sf_dir, str(tmp_path / "split2"), n=4, copies=2
    )
    single = f"{sf_dir}/events.parquet"
    rocks = {"max_files_per_trigger": 1, "store_provider": ROCKSDB_PROVIDER}

    def rows(df):
        return sorted(map(tuple, df.collect()))

    # 1. windowed agg (stateful watermark windows)
    assert rows(
        daily_totals_stream(spark, split, query_name="swp_daily", **rocks)
    ) == rows(daily_totals_stream(spark, single, query_name="swp_daily_1"))

    # 2. exactly-once dedup: doubled multi-file backlog vs single copy
    assert rows(
        deduped_ingest_stream(spark, split2, query_name="swp_dedup", **rocks)
    ) == rows(
        deduped_ingest_stream(
            spark, stage_backlog(single, copies=1), query_name="swp_dedup_1"
        )
    )

    # 3. foreachBatch partitioned export (update mode, dynamic overwrite)
    out_a = str(tmp_path / "exp_a")
    out_b = str(tmp_path / "exp_b")
    export_daily_partitions(spark, split, out_a, query_name="swp_exp", **rocks)
    export_daily_partitions(spark, single, out_b, query_name="swp_exp_1")
    a = rows(spark.read.parquet(out_a).select(
        F.col("date").cast("string"), "event_type", "n_events", "sum_value"
    ))
    b = rows(spark.read.parquet(out_b).select(
        F.col("date").cast("string"), "event_type", "n_events", "sum_value"
    ))
    assert a == b and a

    # 4. applyInPandasWithState sessionizer (GroupState + timeouts)
    assert rows(
        user_sessions_stream(spark, split, query_name="swp_sess", **rocks)
    ) == rows(user_sessions_stream(spark, single, query_name="swp_sess_1"))


def test_sliding_totals_match_batch(spark, sf_dir):
    """Sliding 3-day/1-day windows: every emitted (closed) window must
    equal the batch recomputation of the same overlapping window, each
    event counted in exactly window/slide = 3 windows, and only
    windows whose end the final watermark passed may emit."""
    from clear_map_data_pipeline_spark.session import Tables
    from clear_map_data_pipeline_spark.streaming.daily import (
        sliding_totals_stream,
    )

    streamed = sliding_totals_stream(
        spark, f"{sf_dir}/events.parquet", query_name="t_sliding_eq"
    )
    srows = {
        (r["window_start"], r["window_end"], r["event_type"]): (
            r["n_events"], r["sum_value"],
        )
        for r in streamed.collect()
    }
    assert len(srows) > 0, "no closed windows emitted"

    ev = Tables(spark, sf_dir).events
    batch = (
        ev.select(
            F.explode(
                F.expr(
                    "transform(sequence(0, 2), k ->"
                    " date_sub(to_date(ts), k))"
                )
            ).alias("window_start"),
            "event_type",
            "value",
        )
        .groupBy("window_start", "event_type")
        .agg(
            F.count("*").alias("n"),
            F.round(F.sum("value"), 2).alias("s"),
        )
    )
    brows = {
        (r["window_start"], r["event_type"]): (r["n"], r["s"])
        for r in batch.collect()
    }
    wm = ev.agg(F.max("ts").alias("m")).collect()[0]["m"]
    for (ws, we, et), v in srows.items():
        assert (we - ws).days == 3
        assert brows[(ws, et)] == v, ((ws, et), v, brows[(ws, et)])
        # append-mode emission rule: window end <= watermark
        import datetime

        assert (
            datetime.datetime.combine(we, datetime.time())
            <= wm - datetime.timedelta(days=1)
        )
