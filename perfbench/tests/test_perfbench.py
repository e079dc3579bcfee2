"""Self-tests of the benchmark (not of the engine).

    python3 -m pytest perfbench/tests -q       # about 5 minutes on 4 cores

They start Spark and run the real command, so they are slow; the
repository's own suite under ``tests/`` does not collect them.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
REPO = os.path.dirname(HERE)
sys.path.insert(0, HERE)
sys.path.insert(0, REPO)

import gen  # noqa: E402
import probe  # noqa: E402
import run  # noqa: E402

with open(os.path.join(REPO, "BENCHMARK.json")) as _f:
    SPEC = json.load(_f)


def _sha(path: str) -> str:
    with open(path, "rb") as f:
        return hashlib.sha256(f.read()).hexdigest()


def test_generator_is_deterministic_and_on_the_quarter_grid(tmp_path):
    a = gen.generate(str(tmp_path / "a"), 7, 30, 20, 2.5)
    b = gen.generate(str(tmp_path / "b"), 7, 30, 20, 2.5)
    c = gen.generate(str(tmp_path / "c"), 8, 30, 20, 2.5)
    pa, pb, pc = (str(tmp_path / d / "events.parquet") for d in "abc")
    assert _sha(pa) == _sha(pb) and a == b
    assert _sha(pa) != _sha(pc)
    assert a["areas"] == 30 and a["days"] == 20 and 0 < a["censored_share"] < 1

    import pyarrow.parquet as pq

    t = pq.read_table(pa)
    assert [f.name for f in t.schema] == [
        "event_id", "ts", "user_id", "event_type", "value", "props"]
    v = t.column("value").to_numpy()
    assert ((v * 4) == (v * 4).round()).all()  # binary-exact sums
    assert t.num_rows == a["events"]


def test_workload_names_match_benchmark_json():
    assert [w["name"] for w in SPEC["workloads"]] == list(run.WORKLOADS)


def _command(workload: str, trace: int, cwd: str = REPO):
    cmd = [*SPEC["command"], "--workload", workload, "--seed", "5",
           "--seconds", str(SPEC["run_seconds"]), "--trace", str(trace)]
    return subprocess.run(cmd, cwd=cwd, capture_output=True, text=True, timeout=180)


def _result(workload: str, trace: int) -> dict:
    p = _command(workload, trace)
    assert p.returncode == 0, p.stderr[-3000:]
    return json.loads(p.stdout.strip().splitlines()[-1])


def _assert_metrics(out: dict, declared: list[dict]) -> None:
    assert set(out) == {"correct", "attempted", "failed", "metrics"}
    assert out["correct"] is True and out["failed"] == 0 and out["attempted"] >= 1
    assert {k: v["unit"] for k, v in out["metrics"].items()} == {
        m["name"]: m["unit"] for m in declared}
    for v in out["metrics"].values():
        assert isinstance(v["value"], (int, float))


def test_command_prints_every_end_to_end_metric_with_its_unit():
    out = _result("backfill", 0)
    _assert_metrics(out, SPEC["end_to_end"])
    assert all(v["value"] > 0 for v in out["metrics"].values())


@pytest.mark.parametrize("workload", list(run.WORKLOADS))
def test_traced_run_prints_every_per_layer_metric_and_releases_pins(workload):
    out = _result(workload, 1)
    _assert_metrics(out, SPEC["per_layer"])
    m = {k: v["value"] for k, v in out["metrics"].items()}
    assert m["cachereg.pins_after_batch"] == 0
    assert m["spark.jobs"] > 0 and m["spark.tasks"] >= m["spark.stages"]


def test_command_fails_without_the_package(tmp_path):
    """Only BENCHMARK.json and perfbench/: exit non-zero, print no result."""
    shutil.copy(os.path.join(REPO, "BENCHMARK.json"), tmp_path)
    shutil.copytree(HERE, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    p = _command("backfill", 0, cwd=str(tmp_path))
    assert p.returncode != 0 and p.stdout.strip() == ""


# --- counts on a tiny input, in this process --------------------------------

@pytest.fixture(scope="module")
def spark():
    os.environ.setdefault("SPARK_GRAFT_CPUS", "4")
    os.environ.setdefault("SPARK_DRIVER_MEMORY", "1g")
    from clear_map_data_pipeline_spark.session import (
        ensure_package_on_workers,
        get_spark,
    )

    s = get_spark()
    ensure_package_on_workers(s)
    return s


@pytest.mark.parametrize("workload", list(run.WORKLOADS))
def test_job_and_task_counts_repeat_exactly(spark, tmp_path, workload):
    import worker

    sc = spark.sparkContext
    src = str(tmp_path / "in")
    gen.generate(src, 3, 24, 21, 2.5)
    store, tracker = [], []
    for i in range(3):
        g = f"{workload}-{i}"
        sc.setJobGroup(g, g)
        try:
            worker.BATCHES[workload](spark, src, str(tmp_path / g))
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        assert sc._jsc.getPersistentRDDs().size() == 0  # every pin released
        # read right after the batch, before later stages evict its own
        store.append(probe.group_counts(sc, [g])[g])
        tracker.append(probe.tracker_counts(sc, [g])[g])
    # the first batch pays the session's first-run costs; the next two
    # run the same plans on the same input
    for k in ("jobs", "tasks", "stages"):
        assert store[1][k] == store[2][k] > 0, k
    for s, t in zip(store, tracker):  # the public fallback agrees
        assert (t["jobs"], t["tasks"]) == (s["jobs"], s["tasks"])


def test_status_store_failure_falls_back_to_tracker(spark):
    from py4j.protocol import Py4JError

    class Broken:
        def __getattr__(self, name):
            raise Py4JError("no such method")

    class Ctx:
        _jsc = Broken()

        def statusTracker(self):
            return spark.sparkContext.statusTracker()

    assert probe.group_counts(Ctx(), ["nothing-ran-here"]) == {
        "nothing-ran-here": {k: 0 for k in probe.COUNT_KEYS}}
