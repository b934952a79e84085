"""Tracing for the traced run: spans around calls into the program's layers,
and Spark's own accounting of the jobs each traced action ran.

Spans are recorded only by the benchmark's files, around public calls
(``run_validation``, a query function, a sink write); nothing
inside the program is touched.  Each span has a start, an end, the span that
encloses it and the iteration it belongs to.  Spans stay in memory and are
written as one JSON file when the run ends.
"""

from __future__ import annotations

import json
import re
import time
from contextlib import contextmanager

from py4j.protocol import Py4JError


class Tracer:
    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self.iteration: int | None = None
        self._open: list[int] = []

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        rec = {"id": len(self.spans), "name": name,
               "parent": self._open[-1] if self._open else None,
               "iteration": self.iteration, "start": time.perf_counter(), "end": None}
        self.spans.append(rec)
        self._open.append(rec["id"])
        try:
            yield
        finally:
            rec["end"] = time.perf_counter()
            self._open.pop()

    def self_times(self) -> dict[str, list[float]]:
        """Span name -> self times: each span's duration minus the time its
        child spans cover (children of one span never overlap here)."""
        child_s: dict[int, float] = {}
        for s in self.spans:
            if s["parent"] is not None:
                child_s[s["parent"]] = child_s.get(s["parent"], 0.0) + s["end"] - s["start"]
        out: dict[str, list[float]] = {}
        for s in self.spans:
            out.setdefault(s["name"], []).append(s["end"] - s["start"] - child_s.get(s["id"], 0.0))
        return out

    def durations(self, name: str) -> list[float]:
        return [s["end"] - s["start"] for s in self.spans if s["name"] == name]

    def steady_durations(self) -> dict[str, list[float]]:
        """Span name -> durations in the iterations after the first."""
        out: dict[str, list[float]] = {}
        for s in self.spans:
            if s["iteration"]:
                out.setdefault(s["name"], []).append(s["end"] - s["start"])
        return out

    def dump(self, path: str, extra: dict) -> None:
        with open(path, "w") as f:
            json.dump({"spans": self.spans, **extra}, f, indent=1)


SPARK_SUMS = ("task_run_s", "task_cpu_s", "gc_s", "shuffle_write_mb", "shuffle_read_mb",
              "spill_mb", "input_mb")


def job_group_stats(spark, groups: list[str]) -> dict[str, float]:
    """Jobs, stages, tasks and summed task metrics of every job that ran
    under the given job groups, from the status tracker and the status
    store's stage data (the same numbers the Spark UI shows)."""
    sc = spark.sparkContext
    try:
        # the status store is fed asynchronously by the listener bus
        sc._jsc.sc().listenerBus().waitUntilEmpty(10_000)
    except Py4JError:  # internal API; fall back to a pause
        time.sleep(1.0)
    store = sc._jsc.sc().statusStore()
    tracker = sc.statusTracker()
    out = {"jobs": 0, "stages": 0, "tasks": 0, **{k: 0.0 for k in SPARK_SUMS}}
    stage_ids: set[int] = set()
    for g in groups:
        for jid in tracker.getJobIdsForGroup(g):
            out["jobs"] += 1
            info = tracker.getJobInfo(jid)
            stage_ids.update(info.stageIds if info else [])
    mb = 2.0**20
    for sid in sorted(stage_ids):
        try:
            st = store.lastStageAttempt(sid)
        except Py4JError:  # the stage was never submitted
            continue
        if st.status().toString() == "SKIPPED":
            continue
        out["stages"] += 1
        out["tasks"] += st.numCompleteTasks()
        out["task_run_s"] += st.executorRunTime() / 1e3
        out["task_cpu_s"] += st.executorCpuTime() / 1e9
        out["gc_s"] += st.jvmGcTime() / 1e3
        out["shuffle_write_mb"] += st.shuffleWriteBytes() / mb
        out["shuffle_read_mb"] += st.shuffleReadBytes() / mb
        out["spill_mb"] += st.diskBytesSpilled() / mb
        out["input_mb"] += st.inputBytes() / mb
    return out


_NODE = re.compile(r"^\(\d+\) (\w+)", re.M)


def plan_counts(df) -> dict[str, int]:
    """Exchange and scan operators in ``explain("formatted")`` of a DataFrame."""
    text = df.sparkSession.sparkContext._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted")
    nodes = _NODE.findall(text)
    return {"exchanges": sum(n in ("Exchange", "ReusedExchange") for n in nodes),
            "scans": sum(n == "Scan" for n in nodes)}
