"""Pins for the driver's bench stdout contract (r09, after four rounds
of unparseable driver artifacts): engine sessions must not emit console
progress bars (they flooded the driver's captured output tail and
drowned the one-line JSON contract), the compact line itself must
stay a single parseable line inside a ~2000-char tail window, and each
entry of the full record carries its min wall plus its run counts."""

from __future__ import annotations

import json


def test_engine_session_disables_console_progress(spark):
    """The r08 driver tail was 100% `[Stage N:...]` bars; get_spark
    sessions must pin the conf off so nothing competes with the bench's
    final stdout line (static core conf, read via the SparkConf)."""
    assert (
        spark.sparkContext.getConf().get("spark.ui.showConsoleProgress")
        == "false"
    )


def test_compact_line_is_single_parseable_json(capsys):
    """One parseable line carrying exactly the contract keys, inside the
    ~2000-char tail window even with every real headline name."""
    import bench

    entry = {"min": 123.456, **{k: 10**12 for k in bench.COUNT_KEYS}}
    for names in (["q1"], bench.HEADLINE):
        full = {
            "metric": "headline_queries_total_wall",
            "value": 1.23,
            "queries": {n: entry for n in names},
            "sf": 0.1,
        }
        bench._emit_compact(full)
        out = capsys.readouterr().out
        assert out.count("\n") == 1  # ONE line, newline-terminated
        assert len(out.strip()) <= 1900
        parsed = json.loads(out)
        assert list(parsed) == [
            "metric", "value", "unit", "queries", "sf", "extras_file"
        ]
        assert parsed["queries"] == {n: 123.456 for n in names}


def test_measure_records_min_and_run_counts(spark, sf_dir):
    """A bench entry is the fastest run's wall plus its status-store
    counts."""
    import bench
    from perfbench import probe

    from clear_map_data_pipeline_spark.registry import load_all

    name = "j1_broadcast_join_revenue"
    out = bench._measure(
        spark, probe.Tracer(spark.sparkContext), name,
        load_all()[name].builder, sf_dir,
    )
    assert list(out) == ["min", *bench.COUNT_KEYS]
    assert out["min"] > 0
    assert out["jobs"] >= 1 and out["tasks"] >= 1
