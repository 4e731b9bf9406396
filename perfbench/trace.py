"""In-memory spans and readers for Spark's own status stores.

Spans are kept in a list and written out when the run ends. Every span
of one operation carries that operation's id. Spark-side numbers are
read after each operation from the two status stores Spark keeps even
with the UI disabled:

* the core ``AppStatusStore`` (jobs by group, stage data: task time,
  CPU, GC, shuffle, spill, I/O);
* the SQL ``SQLAppStatusStore`` (per-node metrics of each execution,
  including the Python nodes' worker time and Arrow bytes).

The listener bus fills both stores asynchronously, so each read first
waits for the bus to drain.
"""

from __future__ import annotations

import time
from contextlib import contextmanager

PY_METRICS = {"time to run Python workers": "py_worker_s",
              "time to initialize Python workers": "py_init_s",
              "number of output rows": "py_rows",
              "data sent to Python workers": "py_mb_sent",
              "data returned from Python workers": "py_mb_recv"}

_UNITS = {"ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0, "ns": 1e-9,
          "B": 1.0, "KiB": 1024.0, "MiB": 1024.0 ** 2, "GiB": 1024.0 ** 3,
          "TiB": 1024.0 ** 4}


class Tracer:
    def __init__(self):
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self.op_id: str | None = None

    @contextmanager
    def span(self, name: str, **attrs):
        sid = len(self.spans)
        rec = {"id": sid, "name": name, "op_id": self.op_id,
               "parent": self._stack[-1] if self._stack else None,
               "start": time.monotonic(), "end": None, **attrs}
        self.spans.append(rec)
        self._stack.append(sid)
        try:
            yield rec
        finally:
            self._stack.pop()
            rec["end"] = time.monotonic()


def self_time(spans: list[dict], sid: int) -> float:
    """Span duration minus the part its direct children cover."""
    s = spans[sid]
    kids = sorted((c["start"], c["end"]) for c in spans
                  if c["parent"] == sid and c["end"] is not None)
    covered, hi = 0.0, s["start"]
    for a, b in kids:
        a = max(a, hi)
        if b > a:
            covered += b - a
            hi = b
    return (s["end"] - s["start"]) - covered


def parse_metric(text: str) -> float:
    """A formatted SQL metric ('10.9 s', 'total (...)\\n3.1 MiB (...)',
    '200,000') -> seconds, bytes or a count."""
    line = text.strip().split("\n")[-1]
    tok = line.split(" (")[0].split()
    if not tok:
        return 0.0
    v = float(tok[0].replace(",", ""))
    return v * _UNITS.get(tok[1], 1.0) if len(tok) > 1 else v


def _iter(jcoll):
    it = jcoll.iterator()
    while it.hasNext():
        yield it.next()


class SparkStats:
    """Reads one operation's jobs, stages and SQL nodes by job group."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self._jsc = self.sc._jsc.sc()
        self._store = self._jsc.statusStore()
        self._sql = spark._jsparkSession.sharedState().statusStore()
        self._quantiles = self.sc._gateway.new_array(self.sc._jvm.double, 0)
        self._seen_exec = 0

    def drain(self) -> None:
        self._jsc.listenerBus().waitUntilEmpty()

    def job_ids(self, groups: list[str]) -> list[int]:
        return sorted({j for g in groups
                       for j in self.sc.statusTracker().getJobIdsForGroup(g)})

    def stages(self, job_ids: list[int]) -> dict:
        tot = dict.fromkeys((
            "stages", "tasks", "task_s", "jvm_cpu_s", "gc_s",
            "shuffle_write_mb", "shuffle_read_mb", "spill_mb", "input_mb",
            "output_mb", "failed_tasks"), 0.0)
        stage_ids = set()
        for j in job_ids:
            info = self.sc.statusTracker().getJobInfo(j)
            if info is not None:
                stage_ids.update(info.stageIds)
        empty = self.sc._jvm.java.util.ArrayList()
        for sid in stage_ids:
            for d in _iter(self._store.stageData(sid, False, empty, False,
                                                 self._quantiles)):
                if d.status().toString() == "SKIPPED":
                    continue
                tot["stages"] += 1
                tot["tasks"] += d.numCompleteTasks() + d.numFailedTasks()
                tot["task_s"] += d.executorRunTime() / 1e3
                tot["jvm_cpu_s"] += d.executorCpuTime() / 1e9
                tot["gc_s"] += d.jvmGcTime() / 1e3
                tot["shuffle_write_mb"] += d.shuffleWriteBytes() / 1e6
                tot["shuffle_read_mb"] += d.shuffleReadBytes() / 1e6
                tot["spill_mb"] += (d.memoryBytesSpilled()
                                    + d.diskBytesSpilled()) / 1e6
                tot["input_mb"] += d.inputBytes() / 1e6
                tot["output_mb"] += d.outputBytes() / 1e6
                tot["failed_tasks"] += d.numFailedTasks()
        return tot

    def python_nodes(self, job_ids: list[int]) -> dict:
        """Python-node metrics of every SQL execution that ran one of
        ``job_ids``. Only executions added since the last call are read."""
        tot = dict.fromkeys(("python_nodes", "py_worker_s", "py_init_s",
                             "py_rows", "py_mb_sent", "py_mb_recv"), 0.0)
        jobs = set(job_ids)
        n = self._sql.executionsCount()
        new = self._sql.executionsList(self._seen_exec, n - self._seen_exec)
        self._seen_exec = n
        for e in _iter(new):
            ejobs = {int(k) for k in _iter(e.jobs().keys())}
            if not ejobs & jobs:
                continue
            values = self._sql.executionMetrics(e.executionId())
            for node in _iter(self._sql.planGraph(e.executionId())
                              .allNodes()):
                m = {}
                for metric in _iter(node.metrics()):
                    name = metric.name()
                    v = values.get(metric.accumulatorId())
                    if name in PY_METRICS and v.isDefined():
                        m[PY_METRICS[name]] = parse_metric(v.get())
                if "py_worker_s" not in m:
                    continue
                tot["python_nodes"] += 1
                for k, v in m.items():
                    tot[k] += v / 1e6 if k.startswith("py_mb") else v
        return tot
