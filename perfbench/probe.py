"""Measurement helpers for the engine process: process-tree CPU and
peak memory from ``/proc``, Spark run counts from the status store, and
an in-memory span tracer that gives every span its own job group.

Counts are attributed by job group, never by call site: with AQE most
jobs report an async-materialisation call site that names nothing.
"""

from __future__ import annotations

import os
import time
from contextlib import contextmanager

_TICK = os.sysconf("SC_CLK_TCK")

COUNT_KEYS = (
    "jobs", "stages", "stages_skipped", "tasks", "failed_tasks",
    "executor_run_s", "executor_cpu_s", "shuffle_read_bytes",
    "shuffle_write_bytes", "input_bytes", "spill_bytes",
)


# --- process tree ------------------------------------------------------

def _children(pid: int) -> list[int]:
    out = []
    try:
        tids = os.listdir(f"/proc/{pid}/task")
    except FileNotFoundError:
        return out
    for tid in tids:
        try:
            with open(f"/proc/{pid}/task/{tid}/children") as f:
                out += [int(c) for c in f.read().split()]
        except FileNotFoundError:
            pass
    return out


def tree_pids(root: int | None = None) -> list[int]:
    """``root`` (default: this process) and all its live descendants."""
    todo, seen = [root or os.getpid()], []
    while todo:
        pid = todo.pop()
        seen.append(pid)
        todo += _children(pid)
    return seen


def tree_cpu_s(root: int | None = None) -> float:
    """CPU seconds used so far by the process tree: each live process's
    own user+system time plus that of its reaped children, so a Python
    worker that exits mid-batch is still counted once."""
    total = 0
    for pid in tree_pids(root):
        try:
            with open(f"/proc/{pid}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except FileNotFoundError:
            continue
        total += sum(int(v) for v in fields[11:15])  # utime stime cutime cstime
    return total / _TICK


def peak_rss_mb(pids) -> float:
    """Sum of the high-water resident sizes (VmHWM) of ``pids``."""
    kb = 0
    for pid in pids:
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        kb += int(line.split()[1])
        except FileNotFoundError:
            pass
    return kb / 1024.0


def jvm_pid(root: int | None = None) -> int | None:
    for pid in tree_pids(root)[1:]:
        try:
            with open(f"/proc/{pid}/comm") as f:
                if f.read().strip() == "java":
                    return pid
        except FileNotFoundError:
            pass
    return None


# --- Spark status store ------------------------------------------------

def _opt(o):
    return o.get() if o.isDefined() else None


def _seq(s):
    return [s.apply(i) for i in range(s.size())]


def group_counts(sc, groups) -> dict[str, dict]:
    """Per job group in ``groups``: jobs, stages run, stages skipped,
    tasks and the stage metrics.

    Reads ``statusStore().stageList`` (skipped stages excluded from the
    run totals); if that private API is unreachable, falls back to the
    public ``statusTracker()``, which gives job and task counts only."""
    try:
        # the status store is fed by an asynchronous listener: read it
        # only once every event of the finished work has been applied
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        return store_counts(sc, groups)
    except Exception as e:  # py4j signature drift across Spark versions
        if "py4j" not in type(e).__module__:
            raise
        return tracker_counts(sc, groups)


def _empty() -> dict:
    return {k: 0 for k in COUNT_KEYS}


def store_counts(sc, groups) -> dict[str, dict]:
    store = sc._jsc.sc().statusStore()
    out = {g: _empty() for g in groups}
    owner: dict[int, tuple[int, str]] = {}
    for j in _seq(store.jobsList(None)):
        g = _opt(j.jobGroup())
        if g not in out:
            continue
        out[g]["jobs"] += 1
        jid = j.jobId()
        # a stage listed by several jobs ran in the first of them
        for sid in _seq(j.stageIds()):
            if sid not in owner or jid < owner[sid][0]:
                owner[sid] = (jid, g)
    empty = sc._gateway.new_array(sc._jvm.double, 0)
    for s in _seq(store.stageList(None, False, False, empty, None)):
        g = owner.get(s.stageId(), (None, None))[1]
        if g is None:
            continue
        c = out[g]
        if str(s.status()) == "SKIPPED":
            c["stages_skipped"] += 1
            continue
        c["stages"] += 1
        c["tasks"] += s.numTasks()
        c["failed_tasks"] += s.numFailedTasks()
        c["executor_run_s"] += s.executorRunTime() / 1e3
        c["executor_cpu_s"] += s.executorCpuTime() / 1e9
        c["shuffle_read_bytes"] += s.shuffleReadBytes()
        c["shuffle_write_bytes"] += s.shuffleWriteBytes()
        c["input_bytes"] += s.inputBytes()
        c["spill_bytes"] += s.memoryBytesSpilled() + s.diskBytesSpilled()
    return out


def tracker_counts(sc, groups) -> dict[str, dict]:
    """Job and task counts from the public status tracker (stages whose
    info was already evicted are not counted)."""
    st = sc.statusTracker()
    out = {}
    for g in groups:
        c = _empty()
        for jid in st.getJobIdsForGroup(g):
            info = st.getJobInfo(jid)
            if info is None:
                continue
            c["jobs"] += 1
            for sid in info.stageIds:
                si = st.getStageInfo(sid)
                if si is not None and si.numCompletedTasks:
                    c["stages"] += 1
                    c["tasks"] += si.numTasks
                    c["failed_tasks"] += si.numFailedTasks
        out[g] = c
    return out


def add_counts(rows) -> dict:
    total = _empty()
    for c in rows:
        for k in COUNT_KEYS:
            total[k] += c[k]
    return total


# --- spans ---------------------------------------------------------------

class Tracer:
    """In-memory spans.  Each span runs under its own Spark job group
    (``<phase>/<n>``), so after the phase the status store attributes
    every job to exactly one span."""

    def __init__(self, sc):
        self.sc = sc
        self.spans: list[dict] = []
        self._stack: list[dict] = []

    @contextmanager
    def span(self, name: str, phase: str, **attrs):
        parent = self._stack[-1] if self._stack else None
        sp = {
            "id": len(self.spans), "name": name, "phase": phase,
            "parent": parent["id"] if parent else None,
            "group": f"{phase}/{len(self.spans)}", **attrs,
        }
        self.spans.append(sp)
        self._stack.append(sp)
        self.sc.setJobGroup(sp["group"], name)
        sp["start"] = time.perf_counter()
        try:
            yield sp
        finally:
            sp["end"] = time.perf_counter()
            self._stack.pop()
            if parent:
                self.sc.setJobGroup(parent["group"], parent["name"])
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
                self.sc.setLocalProperty("spark.job.description", None)

    def wrap(self, fn, name: str, phase: str, attrs=None):
        """``fn`` with every call recorded as a span; ``attrs(args)``
        may add fields (e.g. the output path) to the span."""

        def traced(*args, **kwargs):
            extra = attrs(args, kwargs) if attrs else {}
            with self.span(name, phase, **extra):
                return fn(*args, **kwargs)

        return traced

    def finish(self, phase: str) -> list[dict]:
        """Attach status-store counts and self time to ``phase``'s spans."""
        spans = [s for s in self.spans if s["phase"] == phase]
        counts = group_counts(self.sc, [s["group"] for s in spans])
        for s in spans:
            s["wall_s"] = s["end"] - s["start"]
            s["counts"] = counts.get(s["group"], _empty())
        for s in spans:
            kids = [k for k in spans if k["parent"] == s["id"]]
            s["self_s"] = s["wall_s"] - sum(k["wall_s"] for k in kids)
        return spans
