"""Spans around layer calls, plus Spark's own account of each call.

The benchmark times every layer from outside: a span wraps one call
into a layer's public functions. With tracing on, each span that runs
Spark work also reads, after the call, what Spark recorded for it:

* from the application status store — new jobs and stages, their task
  counts, executor run time, shuffle and spill bytes, and the stage
  intervals, whose union against the call's wall time gives the driver
  residual (time no stage was running);
* from the SQL status store — per-operator SQL metrics of the new
  executions (ArrowEvalPython's Python-worker timings and Arrow bytes,
  the parquet scan's files read).

Status-store reads are instrumentation: they run between calls, inside
spans named ``trace``, so their time is the tracing overhead. Spans are
kept in memory and written as JSON when the run ends.
"""

from __future__ import annotations

import json
import re
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

# SQL metrics read per operator: (node name prefix, metric name) -> key
SQL_METRICS = {
    ("ArrowEvalPython", "time to start Python workers"): "python_start_s",
    ("ArrowEvalPython", "time to initialize Python workers"): "python_init_s",
    ("ArrowEvalPython", "time to run Python workers"): "python_run_s",
    ("ArrowEvalPython", "data sent to Python workers"): "arrow_bytes_sent",
    ("ArrowEvalPython", "data returned from Python workers"): "arrow_bytes_returned",
    ("ArrowEvalPython", "number of output rows"): "python_rows",
    ("Scan parquet", "number of files read"): "files_read",
}
ENGINE_KEYS = (
    "jobs",
    "stages",
    "tasks",
    "executor_run_s",
    "shuffle_write_bytes",
    "shuffle_read_bytes",
    "spill_bytes",
    "driver_residual_s",
)

_UNITS = {
    "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0,
    "B": 1.0, "KiB": 1024.0, "MiB": 1024.0**2, "GiB": 1024.0**3, "TiB": 1024.0**4,
}
_VALUE = re.compile(r"^\s*([-0-9.,]+)\s*([A-Za-z]*)")


def parse_metric(text: str) -> float:
    """Value of a formatted SQL metric: a plain count (``1,234``), or a
    timing/size whose task total is the first value of its last line
    (``total (min, med, max ...)\\n2.5 s (...)``). Timings come back in
    seconds, sizes in bytes."""
    line = text.strip().splitlines()[-1]
    m = _VALUE.match(line)
    if not m:
        return 0.0
    return float(m.group(1).replace(",", "")) * _UNITS.get(m.group(2), 1.0)


def union_ms(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to ``[lo, hi]``."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted((max(s, lo), min(e, hi)) for s, e in intervals):
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


class SparkProbe:
    """Reads what Spark recorded since the previous read."""

    def __init__(self, spark):
        sc = spark.sparkContext._jsc.sc()
        self._jvm = spark._jvm
        self._gateway = spark.sparkContext._gateway
        self._bus = sc.listenerBus()
        self._store = sc.statusStore()
        self._sql = spark._jsparkSession.sharedState().statusStore()
        self._no_quantiles = self._gateway.new_array(self._jvm.double, 0)
        self.last_job = self._newest_job()
        self.last_stage = self._newest_stage()
        self.last_exec = self._newest_exec()

    def _newest_job(self) -> int:
        jobs = self._store.jobsList(None)
        return jobs.head().jobId() if jobs.nonEmpty() else -1

    def _newest_stage(self) -> int:
        stages = self._stages()
        return stages.head().stageId() if stages.nonEmpty() else -1

    def _newest_exec(self) -> int:
        n = self._sql.executionsCount()
        if n == 0:
            return -1
        return self._sql.executionsList(n - 1, 1).head().executionId()

    def _stages(self):
        return self._store.stageList(None, False, False, self._no_quantiles, None)

    def read(self, wall_lo_ms: float, wall_hi_ms: float) -> dict:
        """Totals of everything Spark did since the last read; stage
        intervals are clipped to the caller's wall window (epoch ms)."""
        self._bus.waitUntilEmpty()
        out = dict.fromkeys(ENGINE_KEYS, 0.0)
        out.update(dict.fromkeys(SQL_METRICS.values(), 0.0))
        it = self._store.jobsList(None).iterator()
        newest_job = self.last_job
        while it.hasNext():
            job = it.next()
            if job.jobId() <= self.last_job:
                break
            newest_job = max(newest_job, job.jobId())
            out["jobs"] += 1
        self.last_job = newest_job
        intervals = []
        it = self._stages().iterator()
        newest_stage = self.last_stage
        while it.hasNext():
            st = it.next()
            if st.stageId() <= self.last_stage:
                break
            newest_stage = max(newest_stage, st.stageId())
            if str(st.status().toString()) == "SKIPPED":
                continue
            out["stages"] += 1
            out["tasks"] += st.numCompleteTasks() + st.numFailedTasks()
            out["executor_run_s"] += st.executorRunTime() / 1000.0
            out["shuffle_write_bytes"] += st.shuffleWriteBytes()
            out["shuffle_read_bytes"] += st.shuffleReadBytes()
            out["spill_bytes"] += st.memoryBytesSpilled() + st.diskBytesSpilled()
            sub, done = st.submissionTime(), st.completionTime()
            if sub.isDefined():
                end = done.get().getTime() if done.isDefined() else wall_hi_ms
                intervals.append((sub.get().getTime(), end))
        self.last_stage = newest_stage
        busy = union_ms(intervals, wall_lo_ms, wall_hi_ms)
        out["driver_residual_s"] = max(0.0, wall_hi_ms - wall_lo_ms - busy) / 1000.0
        self._read_sql(out)
        return out

    def _read_sql(self, out: dict) -> None:
        n = self._sql.executionsCount()
        take = 16
        while True:
            lo = max(0, n - take)
            execs = self._sql.executionsList(lo, n - lo)
            if lo == 0 or execs.head().executionId() <= self.last_exec:
                break
            take *= 4
        it = execs.iterator()
        newest = self.last_exec
        while it.hasNext():
            ex = it.next()
            eid = ex.executionId()
            if eid <= self.last_exec:
                continue
            newest = max(newest, eid)
            values = self._sql.executionMetrics(eid)
            nodes = self._sql.planGraph(eid).allNodes().iterator()
            while nodes.hasNext():
                node = nodes.next()
                name = node.name()
                prefix = next(
                    (p for p, _ in SQL_METRICS if name.startswith(p)), None
                )
                if prefix is None:
                    continue
                metrics = node.metrics().iterator()
                while metrics.hasNext():
                    pm = metrics.next()
                    key = SQL_METRICS.get((prefix, pm.name()))
                    if key is None:
                        continue
                    val = values.get(pm.accumulatorId())
                    if val.isDefined():
                        out[key] += parse_metric(val.get())
        self.last_exec = newest


@dataclass
class Span:
    id: int
    name: str
    parent: int | None
    start: float
    end: float = 0.0
    attrs: dict = field(default_factory=dict)


class Tracer:
    """In-memory spans for one run; a no-op when ``enabled`` is false.

    ``span(name, spark_work=True)`` additionally reads the Spark probe
    after the call and attaches its totals to the span; the read itself
    is recorded as a ``trace`` span, so its cost is the overhead."""

    def __init__(self, enabled: bool, run_id: str):
        self.enabled = enabled
        self.run_id = run_id
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self.probe: SparkProbe | None = None

    def attach(self, spark) -> None:
        if self.enabled:
            self.probe = SparkProbe(spark)

    @contextmanager
    def span(self, name: str, spark_work: bool = False, **attrs):
        if not self.enabled:
            yield None
            return
        parent = self._stack[-1].id if self._stack else None
        sp = Span(len(self.spans), name, parent, time.perf_counter(), attrs=attrs)
        self.spans.append(sp)
        self._stack.append(sp)
        wall_lo = time.time() * 1000.0
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()
            wall_hi = time.time() * 1000.0
            self._stack.pop()
            if spark_work and self.probe is not None:
                with self.span("trace"):
                    sp.attrs["spark"] = self.probe.read(wall_lo, wall_hi)

    def discard(self) -> None:
        """Read and drop what Spark did since the last read (the
        tracer's own jobs), so no layer span is charged for it."""
        if self.probe is not None:
            self.probe.read(0.0, 0.0)

    def self_times(self) -> dict[str, float]:
        """Self time per span name: duration minus the part covered by
        direct children (children of one span never overlap here)."""
        child = [0.0] * len(self.spans)
        for sp in self.spans:
            if sp.parent is not None:
                child[sp.parent] += sp.end - sp.start
        out: dict[str, float] = {}
        for sp in self.spans:
            out[sp.name] = out.get(sp.name, 0.0) + (sp.end - sp.start) - child[sp.id]
        return out

    def totals(self, name_prefix: str = "") -> dict[str, float]:
        """Sum of the attached Spark totals over spans whose name starts
        with ``name_prefix``."""
        out: dict[str, float] = {}
        for sp in self.spans:
            if sp.name.startswith(name_prefix) and "spark" in sp.attrs:
                for k, v in sp.attrs["spark"].items():
                    out[k] = out.get(k, 0.0) + v
        return out

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            json.dump(
                {
                    "run_id": self.run_id,
                    "spans": [
                        {
                            "id": s.id,
                            "name": s.name,
                            "parent": s.parent,
                            "start": s.start,
                            "end": s.end,
                            "attrs": s.attrs,
                        }
                        for s in self.spans
                    ],
                },
                fh,
            )


class StreamProgress:
    """Collects streaming progress events; registered only when tracing."""

    def __init__(self):
        from pyspark.sql.streaming import StreamingQueryListener

        progress: list[dict] = []

        class _Listener(StreamingQueryListener):
            def onQueryStarted(self, event):
                pass

            def onQueryProgress(self, event):
                p = event.progress
                progress.append(
                    {"batch": p.batchId, "rows": p.numInputRows,
                     "duration_ms": dict(p.durationMs)}
                )

            def onQueryIdle(self, event):
                pass

            def onQueryTerminated(self, event):
                pass

        self.progress = progress
        self.listener = _Listener()

    def totals(self) -> dict[str, float]:
        keys = {
            "latestOffset": "latest_offset_ms",
            "getBatch": "get_batch_ms",
            "queryPlanning": "query_planning_ms",
            "addBatch": "add_batch_ms",
            "walCommit": "wal_commit_ms",
            "triggerExecution": "trigger_ms",
        }
        out = dict.fromkeys(keys.values(), 0.0)
        for p in self.progress:
            for k, name in keys.items():
                out[name] += float(p["duration_ms"].get(k, 0))
        out["batches"] = float(sum(1 for p in self.progress if p["rows"] > 0))
        return out
