#!/usr/bin/env python
"""Benchmark harness: runs the engine's headline queries, then the
members of seven multi-member suites, at $SPARK_GRAFT_SF_DIR (default:
the sf0.1 fixture) on ``session.get_spark``'s cores
($SPARK_GRAFT_CPUS, else every core this process may run on), and
prints ONE JSON line.

Queries execute through the noop sink — full plan execution without
driver-side result transfer, so the number measures the engine, not
collect() serialization.  Each entry is recorded as the min wall of an
adaptive best-of-N plus the Spark run counts of that fastest run (jobs,
stages, tasks, executor time, shuffle/input/spill bytes), read from the
status store by ``perfbench/probe.py``; the full record goes to
BENCH_full_latest.json.
"""

from __future__ import annotations

import json
import os
import signal
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from perfbench import probe  # noqa: E402

HEADLINE = [
    "pipeline_export_all",
    "w1_rebase_censored",
    "suite_tpch",
    "j1_broadcast_join_revenue",
    "a13_quantile_vector",
    "a11_last_value_ratio",
    "w_ramzor_score",
    "j_asof_join",
    "suite_events_analytics",
    "dd_minhash_lsh_pairs",
    "suite_dedup_exact",
    "suite_dedup_fingerprints",
    "sim_ann_lsh_pairs",
    "suite_ivf",
    "suite_text_quality",
    "tx_stratified_sample",
    "j_range_bucket_join",
    "mm_multimodal_suite",
    "pipeline_export_weeks_1",
    "suite_maintenance",
    "suite_io_roundtrip",
    "suite_skew",
    "suite_streaming_daily",
    "st_merge_sink",
    "suite_graph",
    "suite_corpus_assembly",
    "suite_sketches",
]

# Suites whose members are itemized after the headline loop.  Members
# come mechanically from the SUITES registry, so a suite gaining a
# member shows up in the record without bench edits.
MEMBER_SUITES = (
    "suite_graph",
    "suite_ivf",
    "suite_streaming_daily",
    "suite_io_roundtrip",
    "suite_tpch",
    "suite_sketches",
    "suite_dedup_exact",
)

# Run counts recorded next to each entry's min wall.
COUNT_KEYS = (
    "jobs",
    "stages",
    "tasks",
    "executor_run_s",
    "shuffle_read_bytes",
    "shuffle_write_bytes",
    "input_bytes",
    "spill_bytes",
)


def _measure(spark, tracer, name: str, builder, sf_dir: str) -> dict:
    """Best-of-N wall of ``builder(spark, sf_dir)`` written to noop, with
    the run counts of the fastest run.

    N is adaptive: two runs, plus a third when the faster of the two is
    >= 0.5 s (the 0.5-2 s band showed min-of-2 bias; sub-0.5 s entries'
    third run never moved the min).  The minimum is the steady-state
    cost of the plan; single runs on a shared box swing 2-4x with
    GC/codegen noise.  Each run is a probe span with its own job group,
    and the counts are read right after the entry, before later stages
    evict its info from the status store.  Plan construction is inside
    the span: builders that collect (dims, schema inference) pay for it
    in both wall and counts.  Structured Streaming micro-batches run
    under the stream's own job group, so streaming entries count only
    the jobs of this thread."""
    from clear_map_data_pipeline_spark.cachereg import release_all

    def run() -> dict:
        release_all()  # a previous run's pins must not serve this one
        with tracer.span(name, "bench") as sp:
            builder(spark, sf_dir).write.format("noop").mode("overwrite").save()
        sp["wall"] = sp["end"] - sp["start"]
        return sp

    spans = [run(), run()]
    if min(s["wall"] for s in spans) >= 0.5:
        spans.append(run())
    best = min(spans, key=lambda s: s["wall"])
    counts = probe.group_counts(tracer.sc, [best["group"]])[best["group"]]
    out = {"min": round(best["wall"], 3)}
    for k in COUNT_KEYS:
        out[k] = round(counts[k], 3) if k == "executor_run_s" else counts[k]
    return out


_FULL_PATH = os.path.join(
    os.path.dirname(os.path.abspath(__file__)), "BENCH_full_latest.json"
)


def _write_full(full: dict) -> None:
    """Rewrite the full record now, so a mid-run kill never loses what
    already finished.  Write-then-rename so a kill mid-write can't
    truncate the record."""
    tmp = _FULL_PATH + ".tmp"
    with open(tmp, "w") as f:
        json.dump(full, f, indent=1)
        f.write("\n")
    os.replace(tmp, _FULL_PATH)


def _emit_compact(full: dict) -> None:
    """Print + flush the one-line stdout contract: the headline total,
    each headline entry's min, the scale factor and where the full
    record is.  The run counts stay in the full record."""
    compact = {
        "metric": full["metric"],
        "value": full["value"],
        "unit": "sec",
        "queries": {n: e["min"] for n, e in full["queries"].items()},
        "sf": full["sf"],
        "extras_file": os.path.basename(_FULL_PATH),
    }
    print(json.dumps(compact, separators=(",", ":")), flush=True)


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    t_start = time.perf_counter()

    from clear_map_data_pipeline_spark.queries.suites import SUITES
    from clear_map_data_pipeline_spark.registry import load_all
    from clear_map_data_pipeline_spark.session import get_spark

    spark = get_spark("clearmap-bench")
    registry = load_all()
    tracer = probe.Tracer(spark.sparkContext)

    missing = [n for n in HEADLINE if n not in registry]
    if missing:  # a stale HEADLINE name is a bench bug, not a skip
        raise SystemExit(f"HEADLINE names not in registry: {missing}")

    t_setup_done = time.perf_counter()
    sf = os.path.basename(sf_dir.rstrip("/")).replace("sf", "")
    try:
        sf_val: float | str = float(sf)
    except ValueError:
        sf_val = sf

    # The record exists from the first headline query onward: every
    # finished entry rewrites it on disk, and a SIGTERM dumps whatever
    # exists instead of losing the run.
    queries: dict[str, dict] = {}
    full: dict = {
        "metric": "headline_queries_total_wall",
        "value": 0.0,
        "unit": "sec",
        "queries": queries,
        "sf": sf_val,
        "default_parallelism": spark.sparkContext.defaultParallelism,
        "phase_wall_sec": {
            "setup": round(t_setup_done - t_start, 1),
        },
        "headline_complete": False,
    }

    def _dump_and_exit(signum, frame):  # pragma: no cover - signal path
        full["terminated_by_signal"] = signum
        _write_full(full)
        # always re-emit, so the machine-readable line ends the output
        # whatever printed since the first emission
        _emit_compact(full)
        os._exit(143)

    signal.signal(signal.SIGTERM, _dump_and_exit)

    for name in HEADLINE:
        queries[name] = _measure(
            spark, tracer, name, registry[name].builder, sf_dir
        )
        full["value"] = round(sum(e["min"] for e in queries.values()), 3)
        _write_full(full)

    # The stdout contract line prints now, before the member loop, so a
    # wall-clock kill downstream cannot discard the headline.
    full["headline_complete"] = True
    full["phase_wall_sec"]["headline_loop"] = round(
        time.perf_counter() - t_setup_done, 1
    )
    _write_full(full)
    _emit_compact(full)

    t_members_start = time.perf_counter()
    members: dict[str, dict] = {}
    full["suite_members"] = members
    for suite in MEMBER_SUITES:
        members[suite] = {}
        for sub in SUITES[suite]:
            members[suite][sub.name] = _measure(
                spark, tracer, sub.name, sub.builder, sf_dir
            )
            _write_full(full)
    full["phase_wall_sec"]["suite_members"] = round(
        time.perf_counter() - t_members_start, 1
    )
    full["total_wall_sec"] = round(time.perf_counter() - t_start, 1)
    _write_full(full)
    spark.stop()
    # Re-emit the compact line as the LAST output of the process: the
    # driver reads only a ~2000-char tail, and after spark.stop()
    # nothing else can write to the stream.
    _emit_compact(full)


if __name__ == "__main__":
    main()
