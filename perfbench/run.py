"""clearmap benchmark: one command, every metric, outputs checked.

    python3 perfbench/run.py --workload daily_parse --seed 1 --seconds 1 --trace 0

Run from the repository root.  It generates the workload's input from
``--seed`` (``gen.py``), measures the engine's cold set-up
``SETUP_SAMPLES`` times (spawn of ``worker.py`` to its ``ready``:
interpreter, ``get_spark``, ``ensure_package_on_workers``,
``load_all``), runs the workload in a closed loop with one client for
``--seconds`` (at least one batch) in the last of those processes,
checks every batch's output against the DuckDB twins of the registry
(``QueryDef.sql``), and prints one JSON line last:

    {"correct": ..., "attempted": <batches>, "failed": <batches>,
     "metrics": {<name>: {"value": ..., "unit": ...}}}

``--trace 0`` prints the end-to-end metrics of ``BENCHMARK.json``,
``--trace 1`` the per-layer ones (from a separate traced batch plus the
cumulative-prefix ladder).  Details (input shape, every sample, the
spans) go to standard error and, for traced runs, to
``.perfbench_work/traces/``.  Everything the run writes stays under
``.perfbench_work/`` in the repository root.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import re
import shutil
import signal
import statistics
import subprocess
import sys
import time

from probe import add_counts

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)
WORK = os.path.join(REPO, ".perfbench_work")
PACKAGE = "clear_map_data_pipeline_spark"

# input shapes: areas (= distinct user_id), days, mean events per area-day
WORKLOADS = {
    "daily_parse": {"areas": 250, "days": 60, "per_area_day": 2.5},
    "backfill": {"areas": 1200, "days": 365, "per_area_day": 1.5},
}
WINDOWS = ("all", "wave_2", "weeks_2", "weeks_1")
# cold starts per run, the last of which runs the workload: samples of
# one run agree within a few percent (the spread is between runs), and
# each extra one adds ~6 s to a run
SETUP_SAMPLES = 2
DEADLINE_S = 170
# a fixed JVM heap (-Xms = -Xmx) keeps peak RSS comparable between
# runs: a growable 1g heap swung 1.07-1.26 GB on backfill, 2g 1.7-2.7
# GB on daily_parse; fixed, it reads within 1%
DRIVER_MEMORY = "1g"


class Run:
    """One benchmark run: its work directory and child environment;
    ``close`` stops every process it started."""

    def __init__(self, workload: str, seed: int, trace: int):
        self.dir = os.path.join(WORK, f"{workload}-s{seed}-t{trace}-{os.getpid()}")
        shutil.rmtree(self.dir, ignore_errors=True)
        self.tmp = os.path.join(self.dir, "tmp")
        os.makedirs(self.tmp)
        self.log = open(os.path.join(self.dir, "worker.log"), "ab")
        self.procs: list[subprocess.Popen] = []
        self.env = dict(
            os.environ,
            SPARK_GRAFT_CPUS=str(len(os.sched_getaffinity(0))),
            SPARK_DRIVER_MEMORY=DRIVER_MEMORY,
            PYSPARK_SUBMIT_ARGS=f"--driver-java-options -Xms{DRIVER_MEMORY} pyspark-shell",
            SPARK_LOCAL_DIRS=self.tmp,
            TMPDIR=self.tmp,
            # both JVMs (Spark's launcher and Spark): temp files inside the run
            # dir, and no perf-data file outside it
            JAVA_TOOL_OPTIONS=f"-XX:-UsePerfData -Djava.io.tmpdir={self.tmp}",
            PYTHONUNBUFFERED="1",
        )
        self.env.pop("OMP_NUM_THREADS", None)

    def worker(self, args: list[str]) -> tuple[float, subprocess.Popen]:
        """Start ``worker.py``; return seconds from spawn to ``ready``."""
        t0 = time.perf_counter()
        p = subprocess.Popen(
            [sys.executable, os.path.join(HERE, "worker.py"), *args],
            stdin=subprocess.DEVNULL, stdout=subprocess.PIPE,
            stderr=self.log, env=self.env, cwd=REPO, start_new_session=True,
        )
        self.procs.append(p)
        for line in p.stdout:
            if line.strip() == b"ready":
                return time.perf_counter() - t0, p
        raise RuntimeError("worker ended before its set-up finished")

    def wait(self, p: subprocess.Popen) -> None:
        # not stdout to EOF: the worker's JVM holds the pipe until it exits
        rc = p.wait()
        if rc != 0:
            raise RuntimeError(f"worker exit code {rc}")

    def kill(self, p: subprocess.Popen) -> None:
        """Kill the worker's process group (its JVM and Python workers
        included) and wait until the group is gone."""
        try:
            os.killpg(p.pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
        p.wait()
        for _ in range(200):
            try:
                os.killpg(p.pid, 0)
            except ProcessLookupError:
                return
            time.sleep(0.05)

    def close(self) -> None:
        for p in self.procs:
            self.kill(p)
        self.log.close()


# --- correctness gate ----------------------------------------------------

def _row_strings(rows, cols) -> list[str]:
    """Exact-string form of a result: columns by name, rows sorted."""
    order = sorted(cols)
    idx = [cols.index(c) for c in order]
    return sorted(str(tuple(r[i] for i in idx)) for r in rows)


def _iso(v):
    return v.isoformat() if hasattr(v, "isoformat") else v


class Gate:
    """DuckDB twins of the ``pipeline_export_*`` queries over a view on
    the generated ``events.parquet``, evaluated once per run."""

    def __init__(self, input_dir: str, tmp: str):
        import duckdb

        from clear_map_data_pipeline_spark.registry import load_all

        reg = load_all()
        self.con = duckdb.connect()
        self.con.execute(f"SET temp_directory = '{tmp}'")
        self.con.execute(
            "CREATE VIEW events AS SELECT * FROM "
            f"read_parquet('{os.path.join(input_dir, 'events.parquet')}')"
        )
        self.oracle = {}
        for w in WINDOWS:
            # same query, each CTE evaluated once: DuckDB otherwise inlines
            # every reference (5x faster at 1M events)
            sql = re.sub(r"^(\s*\w+) AS \(", r"\1 AS MATERIALIZED (",
                         reg[f"pipeline_export_{w}"].sql, flags=re.M)
            res = self.con.execute(sql)
            self.oracle[w] = ([d[0] for d in res.description], res.fetchall())
        self.rows = sum(len(r) for _, r in self.oracle.values())

    def parquet_ok(self, out: str) -> list[str]:
        bad = []
        for w, (cols, rows) in self.oracle.items():
            res = self.con.execute(
                f"SELECT * FROM read_parquet('{os.path.join(out, w)}/*.parquet')"
            )
            got_cols = [d[0] for d in res.description]
            if sorted(got_cols) != sorted(cols) or _row_strings(
                res.fetchall(), got_cols
            ) != _row_strings(rows, cols):
                bad.append(w)
        return bad

    def geojson_ok(self, out: str) -> list[str]:
        bad = []
        for w, (cols, rows) in self.oracle.items():
            with open(os.path.join(out, f"{w}_polygons.geojson"), encoding="utf-8") as f:
                feats = json.load(f)["features"]
            got_cols = sorted(feats[0]["properties"]) if feats else []
            got = _row_strings(
                [[p["properties"][c] for c in got_cols] for p in feats], got_cols
            )
            want = _row_strings([[_iso(v) for v in r] for r in rows], cols)
            if got_cols != sorted(cols) or got != want:
                bad.append(w)
        return bad


def _digest(out: str) -> dict[str, str]:
    return {
        n: hashlib.sha256(open(os.path.join(out, n), "rb").read()).hexdigest()
        for n in sorted(os.listdir(out))
    }


def check(workload: str, gate: Gate, batches: list[dict]) -> None:
    """Mark each batch ``ok=False`` (with ``mismatch``) whose output
    differs from the oracle; ``daily_parse`` checks the first good
    batch's GeoJSON against the oracle and every other batch's files
    byte for byte against it, as ``parse()`` promises."""
    ref = None
    for b in batches:
        if not b["ok"]:
            continue
        if workload == "backfill":
            bad = gate.parquet_ok(b["out"])
        elif ref is None:
            bad = gate.geojson_ok(b["out"])
            ref = _digest(b["out"])
        else:
            bad = ["bytes"] if _digest(b["out"]) != ref else []
        if bad:
            b["ok"], b["mismatch"] = False, bad


# --- metrics ---------------------------------------------------------------

def _m(value, unit):
    return {"value": value, "unit": unit}


def end_to_end(res: dict, setup: list[float]) -> dict:
    batches = res["batches"]
    return {
        "batch_wall_s": _m(statistics.median(b["wall_s"] for b in batches), "s"),
        "cpu_s": _m(statistics.median(b["cpu_s"] for b in batches), "s"),
        "peak_rss_mb": _m(res["peak_rss_mb"], "MB"),
        "setup_s": _m(statistics.median(setup), "s"),
    }


def _counts(span_list) -> dict:
    return add_counts(s["counts"] for s in span_list)


def per_layer(workload: str, res: dict, input_bytes: int) -> dict:
    spans, lad = res["spans"], res["ladder"]
    traced = res["batches"][0]
    named = lambda n: [s for s in spans if s["name"] == n]  # noqa: E731
    wall = lambda ss: sum(s["wall_s"] for s in ss)  # noqa: E731
    total = _counts(spans)
    cores = res["cores"]
    m = {
        "session.start_s": _m(res["session_start_s"], "s"),
        "registry.build_s": _m(wall(named("registry.build")), "s"),
        "registry.build_jobs": _m(_counts(named("registry.build"))["jobs"], "count"),
        "cachereg.pins_after_batch": _m(traced["persisted_after"], "count"),
    }
    geo = workload == "daily_parse"
    prefix = lad[f"clearmap.prefix.geometry={geo}"]
    pc = prefix["counts"]
    m.update({
        "clearmap.prefix.wall_s": _m(prefix["wall_s"], "s"),
        "clearmap.prefix.jobs": _m(pc["jobs"], "count"),
        "clearmap.prefix.tasks": _m(pc["tasks"], "count"),
        "clearmap.prefix.executor_run_s": _m(pc["executor_run_s"], "s"),
        "clearmap.prefix.shuffle_write_bytes": _m(pc["shuffle_write_bytes"], "B"),
        "clearmap.prefix.input_bytes": _m(pc["input_bytes"], "B"),
    })
    prev = {"wall_s": 0.0, "jobs": 0, "tasks": 0, "executor_run_s": 0.0,
            "shuffle_write_bytes": 0}
    for rung in [n for n in lad if n.startswith("operators.")]:  # ladder order
        s = lad[rung]
        cur = {"wall_s": s["wall_s"], **{k: s["counts"][k] for k in prev if k != "wall_s"}}
        for k, unit in (("wall_s", "s"), ("jobs", "count"), ("tasks", "count"),
                        ("executor_run_s", "s"), ("shuffle_write_bytes", "B")):
            m[f"{rung}.{k}"] = _m(cur[k] - prev[k], unit)
        prev = cur
    if geo:
        nogeo = lad["clearmap.prefix.geometry=False"]
        dis_wall = prefix["wall_s"] - nogeo["wall_s"]
        dis_jobs = pc["jobs"] - nogeo["counts"]["jobs"]
    else:
        dis_wall, dis_jobs = 0.0, 0
    geo_spans = named("writers.geojson")
    lines = [s for s in geo_spans if s["path"].endswith("_lines.geojson")]
    geo_bytes = sum(os.path.getsize(s["path"]) for s in geo_spans)
    geo_rows = 0
    for s in geo_spans:
        with open(s["path"], "rb") as f:
            geo_rows += f.read().count(b'{"type": "Feature",')
    pq_spans = named("writers.parquet")
    pq_bytes = sum(
        os.path.getsize(os.path.join(d, n))
        for s in pq_spans for d, _, ns in os.walk(s["path"]) for n in ns
    )
    m.update({
        "spatial.dissolve.wall_s": _m(dis_wall, "s"),
        "spatial.dissolve.jobs": _m(dis_jobs, "count"),
        "spatial.lines.wall_s": _m(wall(lines), "s"),
        "stats.dates_columns.wall_s": _m(wall(named("stats.dates_columns")), "s"),
        "stats.dates_columns.jobs": _m(
            _counts(named("stats.dates_columns"))["jobs"], "count"),
        "writers.geojson.wall_s": _m(wall(geo_spans), "s"),
        "writers.geojson.rows": _m(geo_rows, "count"),
        "writers.geojson.bytes": _m(geo_bytes, "B"),
        "writers.parquet.wall_s": _m(wall(pq_spans), "s"),
        "writers.parquet.bytes": _m(pq_bytes, "B"),
    })
    units = {"executor_run_s": "s", "executor_cpu_s": "s"}
    for k, v in total.items():
        m[f"spark.{k}"] = _m(v, units.get(k, "B" if k.endswith("bytes") else "count"))
    m.update({
        "spark.scan_amplification": _m(total["input_bytes"] / input_bytes, "ratio"),
        "spark.core_busy_frac": _m(
            total["executor_run_s"] / (cores * traced["wall_s"]), "ratio"),
        "spark.s_per_job": _m(traced["wall_s"] / max(total["jobs"], 1), "s"),
        "trace.batch_wall_s": _m(traced["wall_s"], "s"),
    })
    return m


# --- main ------------------------------------------------------------------

def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args(argv)
    if not os.path.isdir(os.path.join(REPO, PACKAGE)):
        print(f"{PACKAGE}/ not found next to perfbench/: run from a full "
              "checkout of the repository", file=sys.stderr)
        return 2
    sys.path.insert(0, REPO)
    import gen

    def overdue(signum, frame):
        raise TimeoutError(f"run took longer than {DEADLINE_S} s")

    signal.signal(signal.SIGALRM, overdue)
    signal.alarm(DEADLINE_S)
    run = Run(a.workload, a.seed, a.trace)
    try:
        t0 = time.perf_counter()
        src = os.path.join(run.dir, "input")
        shape = gen.generate(src, a.seed, **WORKLOADS[a.workload])
        gen_s = time.perf_counter() - t0
        common = ["--workload", a.workload, "--input", src,
                  "--out", os.path.join(run.dir, "out")]
        setup = []
        if not a.trace:
            for _ in range(SETUP_SAMPLES - 1):
                s, p = run.worker(common + ["--setup-only"])
                run.kill(p)
                setup.append(s)
        result = os.path.join(run.dir, "result.json")
        s, p = run.worker(common + ["--seconds", str(a.seconds),
                                    "--trace", str(a.trace), "--result", result])
        setup.append(s)
        run.wait(p)
        run.kill(p)
        with open(result) as f:
            res = json.load(f)

        t0 = time.perf_counter()
        gate = Gate(src, run.tmp)
        check(a.workload, gate, res["batches"])
        gate_s = time.perf_counter() - t0
        failed = sum(not b["ok"] for b in res["batches"])
        if a.trace:
            metrics = per_layer(a.workload, res, shape["file_bytes"])
            os.makedirs(os.path.join(WORK, "traces"), exist_ok=True)
            with open(os.path.join(WORK, "traces", f"{a.workload}-s{a.seed}.json"), "w") as f:
                json.dump({"shape": shape, "spans": res["spans"],
                           "ladder": res["ladder"]}, f)
        else:
            metrics = end_to_end(res, setup)
        detail = {
            "workload": a.workload, "seed": a.seed, "shape": shape,
            "gen_s": gen_s, "gate_s": gate_s, "oracle_rows": gate.rows,
            "setup_samples": setup,
            "batches": [{k: b[k] for k in ("wall_s", "cpu_s", "ok")}
                        | ({"mismatch": b["mismatch"]} if "mismatch" in b else {})
                        for b in res["batches"]],
        }
        print(json.dumps(detail), file=sys.stderr)
        print(json.dumps({
            "correct": failed == 0,
            "attempted": len(res["batches"]),
            "failed": failed,
            "metrics": metrics,
        }))
    except BaseException:
        with open(run.log.name, "rb") as f:
            sys.stderr.write(f.read()[-8000:].decode(errors="replace"))
        raise
    finally:
        signal.alarm(0)
        run.close()
        shutil.rmtree(run.dir, ignore_errors=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
