"""Spans around the benchmark's calls into the program, and the Spark
counters that attach to them.

Each span runs under its own Spark job group, so the jobs it launches,
their stages and the SQL metrics of the plans it executes can be read
back from Spark's own stores, which work with the UI disabled:

- ``SparkContext.statusTracker()`` maps a job group to its jobs and a
  job to its stages;
- the core status store gives per-stage task counts, executor run and
  CPU time, shuffle and spill bytes;
- Python-worker metrics ("time to run Python workers" and friends) are
  SQL metrics. They are read from the driver's accumulator registry by
  id range, because a span's plans are created while it is open: that
  covers the RDD-based image sink, which has no SQL execution entry.

Spans are kept in memory and written out once, when the run ends.
"""

from __future__ import annotations

import re
import time
from contextlib import contextmanager

from py4j.protocol import Py4JJavaError

#: status-store counters reported for every span
COUNTERS = (
    "wall_s", "jobs", "stages", "tasks", "executor_run_s", "executor_cpu_s",
    "shuffle_write_bytes", "spill_bytes", "python_start_s", "python_run_s",
    "python_bytes_sent", "python_bytes_received",
)

#: SQL metric name -> (span counter, scale to the counter's unit)
_PY_METRICS = {
    "time to start Python workers": ("python_start_s", 1e-3),
    "time to run Python workers": ("python_run_s", 1e-3),
    "data sent to Python workers": ("python_bytes_sent", 1),
    "data returned from Python workers": ("python_bytes_received", 1),
}
_PY_KEYS = tuple(key for key, _ in _PY_METRICS.values())
_ACC_RE = re.compile(r"name: Some\((?P<name>[^)]*)\), value: (?P<value>-?\d+)\)")


class NullTracer:
    """The untraced run: same calls, no job groups, nothing recorded."""

    @contextmanager
    def span(self, name: str):
        yield None


class Tracer:
    """Records spans; see the module docstring for what attaches to them."""

    def __init__(self, spark, run_id: str):
        self.sc = spark.sparkContext
        self.run_id = run_id
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self._acc = self.sc._jvm.org.apache.spark.util.AccumulatorContext

    @contextmanager
    def span(self, name: str):
        parent = self._stack[-1] if self._stack else None
        rec = {
            "id": len(self.spans), "name": name, "run": self.run_id,
            "parent": None if parent is None else parent["id"],
            "group": f"{self.run_id}/{len(self.spans)}",
            # newId() hands out the next accumulator id; ids taken while
            # the span is open belong to plans it executed
            "acc_lo": self._acc.newId(), "start": time.time(),
        }
        self.spans.append(rec)
        self._stack.append(rec)
        self.sc.setJobGroup(rec["group"], name)
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            rec["acc_hi"] = self._acc.newId()
            self._stack.pop()
            if parent is not None:
                self.sc.setJobGroup(parent["group"], parent["name"])
            else:
                self.sc._jsc.clearJobGroup()

    def record(self, name: str, start: float, end: float) -> None:
        """A span for a call made before the tracer could exist."""
        self.spans.append({"id": len(self.spans), "name": name, "run": self.run_id,
                           "parent": None, "start": start, "end": end,
                           "wall_s": end - start})

    def collect(self, spans: list[dict]) -> None:
        """Counters of ``spans``, a closed tree of spans (one pass). Each
        accumulator id and each job is read once, for the innermost span
        open when it was created, then rolled up into every ancestor."""
        kids: dict[int, list[dict]] = {}
        for rec in spans:
            kids.setdefault(rec["parent"], []).append(rec)
        for rec in spans:
            self._own_python_metrics(rec, kids.get(rec["id"], []))
            self._own_jobs(rec)
        for rec in reversed(spans):  # children were opened after parents
            for child in kids.get(rec["id"], []):
                for key in _PY_KEYS:
                    rec[key] += child[key]
                rec["job_ids"] += child["job_ids"]
        for rec in spans:
            self._stage_metrics(rec)

    def _own_python_metrics(self, rec: dict, children: list[dict]) -> None:
        """Sum Python-worker SQL metrics over the accumulator ids taken
        while ``rec`` was the innermost open span. Call while the pass's
        plans are still referenced: the registry holds accumulators
        weakly."""
        ids = set(range(rec["acc_lo"] + 1, rec["acc_hi"]))
        for child in children:
            ids -= set(range(child["acc_lo"], child["acc_hi"] + 1))
        vals = dict.fromkeys(_PY_KEYS, 0.0)
        for acc_id in sorted(ids):
            m = _ACC_RE.search(str(self._acc.get(acc_id)))
            if m and m["name"] in _PY_METRICS:
                key, scale = _PY_METRICS[m["name"]]
                vals[key] += int(m["value"]) * scale
        rec.update(vals)

    def _own_jobs(self, rec: dict) -> None:
        rec["job_ids"] = sorted(self.sc.statusTracker().getJobIdsForGroup(rec["group"]))

    def _stage(self, stage_id: int):
        """Status-store data of a stage's first attempt, or None for a
        stage that was skipped (its output was reused)."""
        jvm = self.sc._jvm
        try:
            return self.sc._jsc.sc().statusStore().stageAttempt(
                stage_id, 0, False, jvm.java.util.ArrayList(), False,
                self.sc._gateway.new_array(jvm.double, 0))._1()
        except Py4JJavaError:
            return None

    def _stage_metrics(self, rec: dict) -> None:
        """Jobs, stages run (a skipped stage reused earlier output) and
        per-stage executor counters of ``rec``'s jobs."""
        tracker = self.sc.statusTracker()
        stage_ids = set()
        for j in rec["job_ids"]:
            info = tracker.getJobInfo(j)
            if info is not None:
                stage_ids.update(info.stageIds)
        run = cpu = shuffle = spill = tasks = read = ran = 0
        for data in filter(None, map(self._stage, stage_ids)):
            ran += 1
            tasks += data.numTasks()
            run += data.executorRunTime()
            cpu += data.executorCpuTime()
            shuffle += data.shuffleWriteBytes()
            spill += data.memoryBytesSpilled() + data.diskBytesSpilled()
            read += data.inputBytes()
        rec.update(
            wall_s=rec["end"] - rec["start"], jobs=len(rec["job_ids"]),
            stages=ran, tasks=tasks, executor_run_s=run / 1e3,
            executor_cpu_s=cpu / 1e9, shuffle_write_bytes=shuffle,
            spill_bytes=spill, input_bytes=read,
        )


def span_counters(rec: dict) -> dict[str, float]:
    return {c: float(rec.get(c, 0.0)) for c in COUNTERS}
