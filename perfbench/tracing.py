"""Spans, Spark status-store counters and process memory, read from outside
the library.

Spans are recorded by the benchmark around its own calls into each layer
(catalog, Pipeline/Runner, the sink callables, warehouse); nothing here
reaches inside ``pipes_spark``. Spark's counters come from the application
status store (jobs, stages, task metrics) and the SQL status store (per-plan
SQL metrics such as the Python worker timings), read per job group after
each request.
"""

from __future__ import annotations

import itertools
import os
import re
import threading
import time
from collections import defaultdict
from contextlib import contextmanager
from typing import Iterator, Optional

_MB = 1024.0 * 1024.0

#: SQL metric name → per-layer counter
_SQL_METRICS = {
    "time to start Python workers": "python.boot_s",
    "time to initialize Python workers": "python.init_s",
    "time to run Python workers": "python.run_s",
    "data sent to Python workers": "python.sent_mb",
    "data returned from Python workers": "python.received_mb",
}
_UNITS = {
    "ns": 1e-9, "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0,
    "B": 1 / _MB, "KiB": 1 / 1024.0, "MiB": 1.0, "GiB": 1024.0, "TiB": 1024.0 * 1024.0,
}
#: ``SQLPlanMetric(name,accumulatorId,metricType)``, a case class's toString
_PLAN_METRIC = re.compile(r"SQLPlanMetric\((.*),(-?[0-9]+),([^,]*)\)")
_SEP = "\x01"
_VALUE = re.compile(r"(-?[0-9][0-9,]*(?:\.[0-9]+)?)\s*([A-Za-z]+)?")


def parse_sql_metric(text: str) -> float:
    """Value of one formatted SQL metric, in seconds for timings and MB for
    sizes. Per-task metrics read ``total (min, med, max ...)\\n<total> (...)``;
    the total is the first value after the line break."""
    body = text.split("\n", 1)[-1]
    m = _VALUE.search(body)
    if m is None:
        raise ValueError(f"unparsable SQL metric {text!r}")
    value = float(m.group(1).replace(",", ""))
    return value * _UNITS.get(m.group(2) or "", 1.0)


def _scala_ints(collection) -> set[int]:
    """The integers of a Scala collection, fetched in one py4j call."""
    return {int(v) for v in collection.mkString(",").split(",") if v}


def _jiter(java_iterable) -> Iterator:
    """Iterate a Scala or Java collection handed back through py4j."""
    it = java_iterable.iterator()
    while it.hasNext():
        yield it.next()


class Tracer:
    """In-memory spans, written out when the run ends. Disabled, ``span``
    records nothing, so untraced sweeps pay no tracing cost. A span opened
    on a thread with no open span (a Runner sink thread) takes the current
    request's span as its parent."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._lock = threading.Lock()
        self.request_span: Optional[int] = None

    @contextmanager
    def span(self, name: str, group: Optional[str] = None):
        if not self.enabled:
            yield
            return
        stack = self._local.__dict__.setdefault("stack", [])
        parent = stack[-1] if stack else self.request_span
        sid = next(self._ids)
        stack.append(sid)
        start = time.perf_counter()
        try:
            yield sid
        finally:
            end = time.perf_counter()
            stack.pop()
            with self._lock:
                self.spans.append(
                    {"id": sid, "name": name, "start": start, "end": end,
                     "parent": parent, "group": group}
                )

    def span_total(self, name: str, since: int = 0) -> float:
        """Summed duration of the spans named ``name`` recorded after the
        first ``since`` spans."""
        with self._lock:
            return sum(s["end"] - s["start"] for s in self.spans[since:] if s["name"] == name)


class StatusReader:
    """Per-job-group counters from Spark's status stores."""

    def __init__(self, spark):
        self._spark = spark
        self._sc = spark.sparkContext
        self._jsc = self._sc._jsc.sc()
        self._sql_seen = self._sql_store().executionsCount()

    def _sql_store(self):
        return self._spark._jsparkSession.sharedState().statusStore()

    def drain(self) -> None:
        """Wait until the listener bus has delivered every event so far, so
        the stores hold the final task metrics of finished jobs."""
        self._jsc.listenerBus().waitUntilEmpty()

    def counters(self, groups: list[str]) -> dict[str, float]:
        self.drain()
        out: dict[str, float] = defaultdict(float)
        tracker = self._sc.statusTracker()
        job_ids = set(itertools.chain.from_iterable(tracker.getJobIdsForGroup(g) for g in groups))
        store = self._jsc.statusStore()
        out["scheduler.jobs"] = float(len(job_ids))
        for jid in job_ids:
            for sid in _jiter(store.job(jid).stageIds()):
                for st in _jiter(store.stageData(sid, False, None, False, None)):
                    if st.status().toString() == "SKIPPED":
                        continue
                    out["scheduler.stages"] += 1
                    out["scheduler.tasks"] += st.numCompleteTasks() + st.numFailedTasks()
                    out["scheduler.failed_tasks"] += st.numFailedTasks()
                    out["task.run_s"] += st.executorRunTime() / 1e3
                    out["task.cpu_s"] += st.executorCpuTime() / 1e9
                    out["task.gc_s"] += st.jvmGcTime() / 1e3
                    out["scan.input_mb"] += st.inputBytes() / _MB
                    out["scan.input_rows"] += st.inputRecords()
                    out["shuffle.write_mb"] += st.shuffleWriteBytes() / _MB
                    out["shuffle.read_mb"] += st.shuffleReadBytes() / _MB
                    out["shuffle.fetch_wait_s"] += st.shuffleFetchWaitTime() / 1e3
                    out["spill.mb"] += st.diskBytesSpilled() / _MB
        sql = self._sql_store()
        total = sql.executionsCount()
        for ex in _jiter(sql.executionsList(self._sql_seen, total - self._sql_seen)):
            # each collection crosses py4j as one string: a plan has hundreds
            # of metrics, and one round trip per metric made a traced request
            # spend about a second here
            if not job_ids.intersection(_scala_ints(ex.jobs().keys())):
                continue
            values = dict(
                kv.split(" -> ", 1)
                for kv in sql.executionMetrics(ex.executionId()).mkString(_SEP).split(_SEP) if kv
            )
            # a plan lists an accumulator once per node that shows it
            wanted = {
                m.group(2): _SQL_METRICS[m.group(1)]
                for m in map(_PLAN_METRIC.fullmatch, ex.metrics().mkString(_SEP).split(_SEP))
                if m and m.group(1) in _SQL_METRICS
            }
            for acc_id, key in wanted.items():
                if acc_id in values:
                    out[key] += parse_sql_metric(values[acc_id])
        self._sql_seen = total
        return dict(out)

    def cached_mb(self) -> float:
        """Storage memory and disk held by persisted RDD blocks."""
        return sum(i.memSize() + i.diskSize() for i in self._jsc.getRDDStorageInfo()) / _MB


def tree_rss_mb() -> dict[str, float]:
    """Resident memory, in MB, of this process and all its descendants (the
    driver, its JVM and the Python workers), read from ``/proc`` and summed
    per command name."""
    children: dict[int, list[int]] = defaultdict(list)
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as fh:
                ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children[ppid].append(int(entry))
    rss: dict[str, float] = defaultdict(float)
    todo = [os.getpid()]
    while todo:
        pid = todo.pop()
        todo.extend(children.get(pid, ()))
        try:
            with open(f"/proc/{pid}/status") as fh:
                fields = dict(line.split(":", 1) for line in fh if ":" in line)
        except OSError:
            continue
        if "VmRSS" in fields:
            rss[fields["Name"].strip()] += int(fields["VmRSS"].split()[0]) / 1024.0
    return dict(rss)
