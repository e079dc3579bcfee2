"""Engine process of the benchmark (started by ``run.py``; not a CLI for
people).  It drives the engine only through the package's public
functions:

1. set-up: ``session.get_spark`` (cores from ``SPARK_GRAFT_CPUS``),
   ``ensure_package_on_workers`` and ``registry.load_all``, then prints
   ``ready`` (the parent times spawn to ``ready``).  ``--setup-only``
   exits here without stopping Spark; the parent kills the group;
2. closed loop, one client: batches of the workload back to back until
   ``--seconds`` have passed (at least one).  The first batch runs in
   the fresh engine, as the daily job does: no warm-up;
3. with ``--trace 1`` instead: one traced batch, then the
   cumulative-prefix ladder; spans are kept in memory and written out
   with the result.

The result (per-batch wall and CPU, peak RSS, spans, ladder) goes to
``--result`` as JSON; the parent checks the outputs and prints metrics.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import sys
import time
import traceback

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

import probe  # noqa: E402
from clear_map_data_pipeline_spark import cachereg  # noqa: E402
from clear_map_data_pipeline_spark.operators.clean import (  # noqa: E402
    clean_moh,
    drop_tolerant,
)
from clear_map_data_pipeline_spark.operators.rebase import rebase_censored  # noqa: E402
from clear_map_data_pipeline_spark.operators.reconcile import (  # noqa: E402
    city_case_flags,
    reconcile_data,
)
from clear_map_data_pipeline_spark.plans import clearmap  # noqa: E402
from clear_map_data_pipeline_spark.plans import parse as parse_mod  # noqa: E402
from clear_map_data_pipeline_spark.registry import load_all  # noqa: E402
from clear_map_data_pipeline_spark.session import (  # noqa: E402
    Tables,
    ensure_package_on_workers,
    get_spark,
)

RUNGS = ("ingest", "clean", "flags", "reconcile", "rebase", "join_stats")


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


@contextlib.contextmanager
def _untraced(name, **attrs):
    yield {}


# --- one batch per workload ----------------------------------------------

def daily_parse(spark, src: str, out: str, span=_untraced) -> None:
    """The paper's job: ``plans.parse.parse`` writes 8 GeoJSON files and
    ``dates.csv``.  ``span`` is unused: its layers are traced by wrapping
    the names ``plans.parse`` binds (see ``_traced_parse``)."""
    parse_mod.parse(spark, src, out)


def backfill(spark, src: str, out: str, span=_untraced) -> None:
    """All four windows over one pinned prefix, written as parquet."""
    with span("registry.build"):
        exports = clearmap.run_pipeline(spark, src, geometry=False)
    try:
        for w, df in exports.items():
            path = os.path.join(out, w)
            with span("writers.parquet", path=path):
                df.write.mode("overwrite").parquet(path)
    finally:
        with span("cachereg.release_all"):
            cachereg.release_all()


BATCHES = {"daily_parse": daily_parse, "backfill": backfill}


# --- tracing -------------------------------------------------------------

@contextlib.contextmanager
def _traced_parse(tracer: probe.Tracer, phase: str):
    """Wrap the layer entry points at the names ``plans.parse`` binds."""
    def path_attr(args, kwargs):
        return {"path": args[1]}

    patches = {
        "run_pipeline": ("registry.build", None),
        "write_geojson": ("writers.geojson", path_attr),
        "_dates_columns": ("stats.dates_columns", None),
        "write_dates_array_csv": ("writers.dates_csv", None),
        "release_all": ("cachereg.release_all", None),
    }
    saved = {n: getattr(parse_mod, n) for n in patches}
    try:
        for n, (name, attrs) in patches.items():
            setattr(parse_mod, n, tracer.wrap(saved[n], name, phase, attrs))
        yield
    finally:
        for n, fn in saved.items():
            setattr(parse_mod, n, fn)


def _rung(t: Tables, upto: str):
    """Cumulative prefix of ``clearmap.joined_stats_frame`` through
    ``upto``, pinned the way the pipeline pins it."""
    dirty = clearmap.synth_moh_dirty(t)
    if upto == "ingest":
        return dirty
    data = clean_moh(drop_tolerant(dirty, ["town"]))
    if upto == "clean":
        return data
    flags = cachereg.pin(city_case_flags(data, clearmap.synth_shape(t)))
    if upto == "flags":
        return flags
    data = reconcile_data(data, flags)
    if upto == "reconcile":
        return data
    data = rebase_censored(data, {"cases": "new_case", "vaccine": "new_vaccine"})
    if upto == "rebase":
        return data
    return clearmap.joined_stats_frame(t)


def ladder(spark, tracer: probe.Tracer, src: str, geometry: bool) -> dict:
    """Each rung (and the pinned full prefix, with and without geometry)
    written to ``noop`` from scratch, pins released between rungs."""
    t = Tables(spark, src)
    for r in RUNGS:
        with tracer.span(f"operators.{r}", "ladder"):
            _noop(_rung(t, r))
        cachereg.release_all()
    for g in ([True, False] if geometry else [False]):
        with tracer.span(f"clearmap.prefix.geometry={g}", "ladder"):
            _noop(cachereg.pin(clearmap.joined_stats_frame(t, geometry=g)))
        cachereg.release_all()
    return {s["name"]: s for s in tracer.finish("ladder")}


# --- main ------------------------------------------------------------------

def _batch(fn, spark, src, out, span=_untraced) -> dict:
    sc = spark.sparkContext
    cpu0, t0 = probe.tree_cpu_s(), time.perf_counter()
    rec = {"ok": True}
    try:
        fn(spark, src, out, span)
    except Exception:
        rec = {"ok": False, "error": traceback.format_exc()}
        print(rec["error"], file=sys.stderr, flush=True)
    rec["wall_s"] = time.perf_counter() - t0
    rec["cpu_s"] = probe.tree_cpu_s() - cpu0
    rec["out"] = out
    rec["persisted_after"] = sc._jsc.getPersistentRDDs().size()
    return rec


def main(argv=None) -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(BATCHES))
    ap.add_argument("--input", required=True)
    ap.add_argument("--out", required=True)
    ap.add_argument("--seconds", type=float, default=1)
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--result")
    ap.add_argument("--setup-only", action="store_true")
    a = ap.parse_args(argv)

    t0 = time.perf_counter()
    spark = get_spark()
    session_start_s = time.perf_counter() - t0
    ensure_package_on_workers(spark)
    load_all()
    print("ready", flush=True)
    if a.setup_only:
        os._exit(0)

    sc = spark.sparkContext
    res = {"session_start_s": session_start_s, "cores": sc.defaultParallelism}
    fn = BATCHES[a.workload]
    batches = []
    if not a.trace:
        t_start = time.perf_counter()
        while not batches or time.perf_counter() - t_start < a.seconds:
            out = os.path.join(a.out, f"b{len(batches)}")
            batches.append(_batch(fn, spark, a.input, out))
    else:
        tracer = probe.Tracer(sc)
        out = os.path.join(a.out, "b0")

        def span(name, **attrs):
            return tracer.span(name, "batch", **attrs)

        with tracer.span("batch", "batch"):
            if a.workload == "daily_parse":
                with _traced_parse(tracer, "batch"):
                    batches.append(_batch(fn, spark, a.input, out))
            else:
                batches.append(_batch(fn, spark, a.input, out, span))
        res["spans"] = tracer.finish("batch")
        res["ladder"] = ladder(spark, tracer, a.input, a.workload == "daily_parse")
    res["batches"] = batches
    res["peak_rss_mb"] = probe.peak_rss_mb([os.getpid(), probe.jvm_pid()])
    with open(a.result, "w") as f:
        json.dump(res, f)
    return 0


if __name__ == "__main__":
    rc = main()
    sys.stdout.flush()
    os._exit(rc)  # without stopping Spark: the parent kills the JVM's group
