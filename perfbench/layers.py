"""Per-layer tracing read from outside the program.

Each query phase (builder call, noop-sink materialisation) runs under its
own Spark job group. After the phase, ``Tracer.close_span`` waits for
the listener bus, then reads the jobs of that group from the status
tracker, their stages from the application status store and the new SQL
executions from the SQL status store. Spans stay in memory and are
written once by the caller.
"""

from __future__ import annotations

import json
import re
import time

# SQL plan metrics read from the SQL status store, by display name: the
# Python evaluation nodes, and the file scans (the stage-level inputBytes
# reads near zero for the vectorized parquet reader)
SQL_METRICS = {
    "size of files read": "scan_bytes",
    "time to run Python workers": "udf_run_ms",
    "time to initialize Python workers": "udf_init_ms",
    "time to start Python workers": "udf_start_ms",
    "data sent to Python workers": "udf_sent_bytes",
    "data returned from Python workers": "udf_returned_bytes",
}
_UNITS = {
    "ns": 1e-6, "ms": 1.0, "s": 1e3, "m": 6e4, "h": 3.6e6,
    "B": 1.0, "KiB": 2.0**10, "MiB": 2.0**20, "GiB": 2.0**30, "TiB": 2.0**40,
}
_TOTAL = re.compile(r"(-?[\d.,]+)\s*(ns|ms|s|m|h|B|KiB|MiB|GiB|TiB)\b")

# StageData fields summed per span, as (json key, span key)
STAGE_SUMS = (
    ("numTasks", "tasks"),
    ("numFailedTasks", "tasks_failed"),
    ("executorRunTime", "run_ms"),
    ("executorCpuTime", "cpu_ns"),
    ("jvmGcTime", "gc_ms"),
    ("inputRecords", "scan_rows"),
    ("shuffleReadBytes", "shuffle_read_bytes"),
    ("shuffleFetchWaitTime", "fetch_wait_ms"),
    ("shuffleWriteBytes", "shuffle_write_bytes"),
    ("diskBytesSpilled", "spill_bytes"),
    ("resultSize", "result_bytes"),
)


def parse_metric(text: str) -> float:
    """Total of a rendered SQL metric, in ms or bytes.

    Spark renders accumulated metrics as ``"total (min, med, max ...)\\n
    12.3 s (...)"`` and single values as ``"12.3 s"``; the total is the
    first number with a unit after the header line.
    """
    body = text.split("\n", 1)[-1]
    m = _TOTAL.search(body)
    if m is None:
        return 0.0
    return float(m.group(1).replace(",", "")) * _UNITS[m.group(2)]


class Tracer:
    def __init__(self, spark):
        self.sc = spark.sparkContext
        jsc = self.sc._jsc.sc()
        jvm = self.sc._jvm
        self._bus = jsc.listenerBus()
        self._store = jsc.statusStore()
        self._sql = spark._jsparkSession.sharedState().statusStore()
        self._conv = jvm.scala.jdk.javaapi.CollectionConverters
        mapper = jvm.com.fasterxml.jackson.databind.ObjectMapper()
        scala_mod = getattr(jvm.com.fasterxml.jackson.module.scala, "DefaultScalaModule$")
        mapper.registerModule(getattr(scala_mod, "MODULE$"))
        self._mapper = mapper
        self._next_execution = 0
        self.spans: list[dict] = []
        self.collect_s = 0.0

    def open_span(self, pass_no: int, query: str, phase: str) -> None:
        group = f"{pass_no}/{query}/{phase}"
        self.sc.setJobGroup(group, group)

    def close_span(self, pass_no: int, query: str, phase: str, t0: float, t1: float) -> None:
        """Record the span of one phase; ``t0``/``t1`` are epoch seconds."""
        c0 = time.perf_counter()
        self._bus.waitUntilEmpty()
        group = f"{pass_no}/{query}/{phase}"
        tracker = self.sc.statusTracker()
        span: dict = {
            "pass": pass_no, "query": query, "phase": phase,
            "start": t0, "end": t1, "parent": f"{pass_no}/{query}",
            "jobs": sorted(tracker.getJobIdsForGroup(group)),
            "stages": [], "stage_intervals": [], "skipped_stages": 0,
            "stage_retries": 0, "peak_mem_bytes": 0,
        }
        for _, key in STAGE_SUMS:
            span[key] = 0
        for job in span["jobs"]:
            info = tracker.getJobInfo(job)
            for sid in (info.stageIds if info else ()):
                self._add_stage(span, sid)
        span.update(self._sql_metrics())
        self.spans.append(span)
        self.collect_s += time.perf_counter() - c0

    def _add_stage(self, span: dict, sid: int) -> None:
        st = json.loads(self._mapper.writeValueAsString(self._store.lastStageAttempt(sid)))
        span["stages"].append(sid)
        if st["status"] == "SKIPPED":
            span["skipped_stages"] += 1
            return
        span["stage_retries"] += int(st["attemptId"] > 0)
        for key, out in STAGE_SUMS:
            span[out] += st.get(key, 0)
        span["peak_mem_bytes"] = max(span["peak_mem_bytes"], st.get("peakExecutionMemory", 0))
        # dates serialise as epoch milliseconds
        sub, done = st.get("submissionTime"), st.get("completionTime")
        if sub is not None and done is not None:
            span["stage_intervals"].append((sub, done))

    def _sql_metrics(self) -> dict:
        """Sum SQL_METRICS over the SQL executions started since the last call."""
        out = {v: 0.0 for v in SQL_METRICS.values()}
        out["sql_executions"] = []
        n = self._sql.executionsCount()
        newest = self._conv.asJava(self._sql.executionsList(n - 1, 1)) if n else []
        last = newest[0].executionId() if newest else -1
        for eid in range(self._next_execution, last + 1):
            opt = self._sql.execution(eid)
            if opt.isEmpty():
                continue
            out["sql_executions"].append(eid)
            wanted = {
                m.accumulatorId(): SQL_METRICS[m.name()]
                for m in self._conv.asJava(opt.get().metrics())
                if m.name() in SQL_METRICS
            }
            if wanted:
                values = self._conv.asJava(self._sql.executionMetrics(eid))
                for acc, key in wanted.items():
                    if acc in values:
                        out[key] += parse_metric(values[acc])
        self._next_execution = max(self._next_execution, last + 1)
        return out

    def cache_state(self) -> dict:
        infos = self.sc._jsc.sc().getRDDStorageInfo()
        return {
            "persisted_rdds": self.sc._jsc.getPersistentRDDs().size(),
            "cache_mem_bytes": sum(i.memSize() for i in infos),
        }
