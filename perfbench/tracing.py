"""Per-layer tracing for the benchmark's traced run.

Spans are timed from the benchmark's own files around the calls into each
layer's public entry point: the query builder (``inventory``), forcing the
physical plan (``plan``) and the noop-sink write (``execute``). The work
inside those windows is then read from Spark's own status stores, the same
ones ``BallistaSession.metrics()`` reads: the job and stage list of the
AppStatusStore and the SQL execution metrics of the SQLAppStatusStore, plus
a Python ``StreamingQueryListener``. Nothing inside the package is traced
and the REST UI is not used.

Status-store records are serialised to JSON inside the JVM (Jackson with
the Scala module, as the REST API does) so one py4j call returns a whole
job, stage or execution.

Spans and counts stay in memory until the run writes its record.
"""

from __future__ import annotations

import json
import re

from py4j.protocol import Py4JJavaError
from pyspark.sql.streaming import StreamingQueryListener

_MB = 2**20
# status-store times are whole milliseconds
_TOL = 1e-3
_UNIT = {
    "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0,
    "B": 1.0, "KiB": 2**10, "MiB": 2**20, "GiB": 2**30, "TiB": 2**40,
    "": 1.0,
}
_VALUE = re.compile(r"([-\d,.]+)\s*([A-Za-z]*)")

# SQL metric name -> per-layer metric it adds to (seconds or bytes)
_SQL_METRICS = {
    "time to collect": "driver.broadcast_s",
    "time to build": "driver.broadcast_s",
    "time to broadcast": "driver.broadcast_s",
    "time to run Python workers": "pyboundary.run_s",
    "time to start Python workers": "pyboundary.init_s",
    "time to initialize Python workers": "pyboundary.init_s",
    "data sent to Python workers": "pyboundary.sent_mb",
    "data returned from Python workers": "pyboundary.returned_mb",
}

LAYER_METRICS: dict[str, str] = {
    "session.start_s": "s",
    "session.warmup_s": "s",
    "inventory.build_s": "s",
    "inventory.build_jobs": "count",
    "plan.s": "s",
    "stage.busy_s": "s",
    "stage.task_s": "s",
    "stage.cpu_s": "s",
    "stage.tasks": "count",
    "stage.input_mb": "MiB",
    "stage.shuffle_read_mb": "MiB",
    "stage.shuffle_write_mb": "MiB",
    "stage.gc_s": "s",
    "stage.spill_mb": "MiB",
    "stage.task_failures": "count",
    "pyboundary.run_s": "s",
    "pyboundary.init_s": "s",
    "pyboundary.sent_mb": "MiB",
    "pyboundary.returned_mb": "MiB",
    "driver.gap_s": "s",
    "driver.broadcast_s": "s",
    "driver.jobs": "count",
    "driver.skipped_stages": "count",
    "streaming.batches": "count",
    "streaming.add_batch_s": "s",
    "streaming.state_commit_s": "s",
    "streaming.log_commit_s": "s",
    "streaming.state_rows": "count",
    "streaming.state_mb": "MiB",
    "trace.overhead_frac": "ratio",
    "trace.reconcile_err": "ratio",
}


def parse_sql_metric(text: str) -> float:
    """A SQL metric as the status store formats it ("1.2 s", "3.4 MiB",
    "1,024", or a "total (min, med, max ...)" header over such a line),
    in seconds, bytes or units."""
    line = text.split("\n", 1)[-1]
    m = _VALUE.match(line.strip())
    if not m:
        return 0.0
    return float(m.group(1).replace(",", "")) * _UNIT.get(m.group(2), 1.0)


def union_s(intervals: list[tuple[float, float]]) -> float:
    """Total length covered by possibly overlapping intervals."""
    total, end = 0.0, float("-inf")
    for a, b in sorted(intervals):
        if b <= end:
            continue
        total += b - max(a, end)
        end = b
    return total


def clipped_union_s(intervals, lo: float, hi: float) -> float:
    return union_s(
        [(max(a, lo), min(b, hi)) for a, b in intervals if b > lo and a < hi]
    )


class _Progress(StreamingQueryListener):
    """Keeps every streaming progress event as a plain tuple."""

    def __init__(self) -> None:
        self.events: list[tuple] = []

    def onQueryStarted(self, event) -> None:
        pass

    def onQueryProgress(self, event) -> None:
        p = event.progress
        self.events.append(
            (
                str(p.id),
                dict(p.durationMs),
                [
                    (s.numRowsTotal, s.memoryUsedBytes, s.commitTimeMs)
                    for s in p.stateOperators
                ],
            )
        )

    def onQueryIdle(self, event) -> None:
        pass

    def onQueryTerminated(self, event) -> None:
        pass


class Tracer:
    """Times one traced query at a time and attributes the status-store
    records it produced to its build, plan and execute windows."""

    def __init__(self, spark) -> None:
        self.spark = spark
        jvm = spark._jvm
        self._sc = spark._jsc.sc()
        self._store = self._sc.statusStore()
        self._sql = spark._jsparkSession.sharedState().statusStore()
        self._json = jvm.com.fasterxml.jackson.databind.ObjectMapper()
        scala = getattr(jvm.com.fasterxml.jackson.module.scala, "DefaultScalaModule$")
        self._json.registerModule(getattr(scala, "MODULE$"))
        self._listener = _Progress()
        self._exec_next = 0
        self._job_next = 0
        self.spans: list[dict] = []
        self.queries: list[dict] = []

    # -- spans ---------------------------------------------------------------
    def span(self, name: str, start: float, end: float, parent: int | None,
             **counts) -> int:
        sid = len(self.spans)
        self.spans.append(
            {"id": sid, "name": name, "start": start, "end": end,
             "parent": parent, **counts}
        )
        return sid

    # -- status stores -------------------------------------------------------
    def _drain(self) -> None:
        self._sc.listenerBus().waitUntilEmpty(30_000)

    def _load(self, obj) -> dict:
        return json.loads(self._json.writeValueAsString(obj))

    def _jobs(self, load: bool) -> list[dict]:
        """Jobs since the last call, in every job group (streaming runs its
        micro-batches under one); serialised only when ``load``. Job ids
        are consecutive, so the first missing one is the end."""
        out = []
        while True:
            try:
                job = self._store.job(self._job_next)
            except Py4JJavaError:  # no such job (yet)
                return out
            if load:
                out.append(self._load(job))
            self._job_next += 1

    def _execs(self, load: bool) -> list[dict]:
        """SQL executions since the last call (ids are consecutive; a few
        misses in a row mean the end), serialised only when ``load``."""
        out, misses = [], 0
        while misses < 3:
            opt = self._sql.execution(self._exec_next + misses)
            if not opt.isDefined():
                misses += 1
                continue
            if load:
                out.append(self._load(opt.get()))
            self._exec_next += misses + 1
            misses = 0
        return out

    def mark(self) -> int:
        """Skip the jobs and executions so far, so that only what the next
        traced query adds is read afterwards; return the progress-event
        watermark."""
        self._drain()
        self._execs(load=False)
        self._jobs(load=False)
        return len(self._listener.events)

    def start_streaming(self) -> None:
        self.spark.streams.addListener(self._listener)

    def stop_streaming(self) -> None:
        self.spark.streams.removeListener(self._listener)

    # -- one query -----------------------------------------------------------
    def record(self, name: str, pass_span: int, ev_mark: int,
               t: list[float]) -> dict:
        """Attribute the records since :meth:`mark` to a query whose build,
        plan and execute windows are t[0]..t[1]..t[2]..t[3] (epoch s)."""
        self._drain()
        q = {k: 0.0 for k in LAYER_METRICS}
        q_span = self.span(f"query:{name}", t[0], t[3], pass_span)
        b_span = self.span("inventory.build", t[0], t[1], q_span)
        self.span("plan", t[1], t[2], q_span)
        x_span = self.span("execute", t[2], t[3], q_span)
        busy: list[tuple[float, float]] = []
        outside: list[tuple[float, float]] = []
        exec_start, lo, hi = t[2] - _TOL, t[0] - _TOL, t[3] + _TOL
        for job in self._jobs(load=True):
            sub = (job.get("submissionTime") or 0) / 1000
            end = (job.get("completionTime") or 0) / 1000
            if sub < lo or end > hi:  # work the windows do not cover
                outside.append((sub, max(sub, end)))
            in_exec = sub >= exec_start
            if not in_exec:
                q["inventory.build_jobs"] += 1
            else:
                q["driver.jobs"] += 1
                q["driver.skipped_stages"] += job.get("numSkippedStages", 0)
            j_span = self.span(
                f"job:{job['jobId']}", sub, end, x_span if in_exec else b_span
            )
            for sid in job.get("stageIds", []):
                try:
                    st = self._load(self._store.lastStageAttempt(sid))
                except Py4JJavaError:  # the stage was evicted from the store
                    continue
                if st.get("status") == "SKIPPED" or not st.get("submissionTime"):
                    continue
                s0 = st["submissionTime"] / 1000
                s1 = (st.get("completionTime") or st["submissionTime"]) / 1000
                self.span(
                    f"stage:{sid}", s0, s1, j_span,
                    tasks=st["numTasks"], run_ms=st["executorRunTime"],
                )
                if not in_exec:
                    continue
                busy.append((s0, s1))
                q["stage.task_s"] += st["executorRunTime"] / 1000
                q["stage.cpu_s"] += st["executorCpuTime"] / 1e9
                q["stage.tasks"] += st["numTasks"]
                q["stage.input_mb"] += st["inputBytes"] / _MB
                q["stage.shuffle_read_mb"] += st["shuffleReadBytes"] / _MB
                q["stage.shuffle_write_mb"] += st["shuffleWriteBytes"] / _MB
                q["stage.gc_s"] += st["jvmGcTime"] / 1000
                q["stage.spill_mb"] += st["diskBytesSpilled"] / _MB
                q["stage.task_failures"] += st["numFailedTasks"]
        writes: list[tuple[float, float]] = []
        for ex in self._execs(load=True):
            sub = ex["submissionTime"] / 1000
            in_exec = sub >= exec_start
            if in_exec:
                writes.append((sub, (ex.get("completionTime") or 0) / 1000))
            names = {str(m["accumulatorId"]): m["name"] for m in ex["metrics"]}
            for acc, text in (ex.get("metricValues") or {}).items():
                key = _SQL_METRICS.get(names.get(acc, ""))
                if key is None or (key == "driver.broadcast_s" and not in_exec):
                    continue
                v = parse_sql_metric(text)
                q[key] += v / _MB if key.endswith("_mb") else v
        last_state: dict[str, list] = {}
        for qid, dur, ops in self._listener.events[ev_mark:]:
            q["streaming.batches"] += 1
            q["streaming.add_batch_s"] += dur.get("addBatch", 0) / 1000
            q["streaming.log_commit_s"] += (
                dur.get("walCommit", 0) + dur.get("commitOffsets", 0)
            ) / 1000
            q["streaming.state_commit_s"] += sum(c for _, _, c in ops) / 1000
            last_state[qid] = ops
        for ops in last_state.values():
            q["streaming.state_rows"] += sum(r for r, _, _ in ops)
            q["streaming.state_mb"] += sum(m for _, m, _ in ops) / _MB
        wall = t[3] - t[0]
        q["inventory.build_s"] = t[1] - t[0]
        q["plan.s"] = t[2] - t[1]
        q["stage.busy_s"] = union_s(busy)
        q["driver.gap_s"] = (t[3] - t[2]) - clipped_union_s(busy, t[2], t[3])
        # Reconcile with Spark's own clock: the write as the SQL store
        # records it (its executions' submission to completion) must fill
        # the Python-timed execute window, the stages must lie inside it,
        # and no job may fall outside the query's windows.
        spark_exec = union_s(writes)
        q["trace.reconcile_err"] = (
            abs((t[3] - t[2]) - spark_exec)
            + q["stage.busy_s"] - clipped_union_s(busy, t[2], t[3])
            + union_s(outside)
        ) / wall if wall else 0.0
        q["execute_s"] = t[3] - t[2]
        q["spark_execute_s"] = spark_exec
        q["jobs_outside"] = len(outside)
        q["query"] = name
        q["wall_s"] = wall
        self.spans[x_span]["jobs"] = q["driver.jobs"]
        self.spans[b_span]["jobs"] = q["inventory.build_jobs"]
        self.queries.append(q)
        return q
