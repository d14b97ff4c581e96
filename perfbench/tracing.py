"""Per-layer tracing from outside the program.

Everything here wraps a layer's public entry point from the benchmark's
side; the program itself records nothing. The traced layers and their
boundaries:

* ``queries``   the registry call ``fn(spark, dir)`` (a span), and the py4j
                commands sent while tracing is on (the gateway client's
                ``send_command``, minus py4j's own garbage-collection
                commands and the commands this module sends itself);
* ``catalyst``  forcing ``executedPlan`` (a span) and the final
                DataFrame's ``QueryPlanningTracker`` phases;
* ``spark``     ``collect()`` after planning (a span), and jobs, stages and
                task metrics from the Spark event log;
* ``python``    Python-worker SQL metrics in the event log;
* ``streaming`` ``DataStreamWriter.start`` to ``awaitTermination`` (a span
                per drain) and ``StreamingQueryProgress`` from a listener;
* ``catalog``   ``TableEnvironment.execute_sql`` (a span per statement).

Spans live in memory and are read after each query. Only spans opened on
the main thread are recorded; counters count on every thread.
"""

from __future__ import annotations

import collections
import contextlib
import json
import os
import re
import statistics
import threading
import time

_tls = threading.local()

WRITE_KINDS = ("INSERT", "UPDATE", "DELETE", "ALTER", "CTAS", "REFRESH")


def statement_kind(sql: str) -> str:
    """Leading keyword of a SQL statement; ``CTAS`` for CREATE ... AS."""
    words = re.findall(r"[A-Za-z_]+", sql.lstrip(" \t\r\n(").split("'", 1)[0][:400])
    kind = words[0].upper() if words else "?"
    if kind == "CREATE" and re.search(r"\bAS\s+(SELECT|WITH|\()", sql, re.IGNORECASE):
        return "CTAS"
    return kind


@contextlib.contextmanager
def internal():
    """Marks py4j commands sent by the benchmark itself, so the counter
    skips them."""
    prev = getattr(_tls, "internal", False)
    _tls.internal = True
    try:
        yield
    finally:
        _tls.internal = prev


class Tracer:
    """Spans and counters for one traced run.

    ``install`` wraps the entry points for the life of the process; they
    record only while ``enabled`` is set, so the same process can run
    untraced passes."""

    def __init__(self):
        self.enabled = False
        self._main = threading.get_ident()
        self._lock = threading.Lock()
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self.py4j_calls = 0
        self.statements = 0
        self._drain_open: dict[str, tuple[float, float, int | None]] = {}
        self.listener = None

    # -- spans -----------------------------------------------------------

    def _on_main(self) -> bool:
        return self.enabled and threading.get_ident() == self._main

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        if not self._on_main():
            yield None
            return
        rec = {"name": name, "id": len(self.spans), "t0": time.perf_counter(),
               "e0": time.time(), "parent": self._stack[-1] if self._stack else None,
               **attrs}
        self._stack.append(len(self.spans))
        self.spans.append(rec)
        try:
            yield rec
        finally:
            rec["t1"] = time.perf_counter()
            rec["e1"] = time.time()
            self._stack.pop()

    # -- entry points ----------------------------------------------------

    def install(self, spark) -> None:
        from pyspark.sql.streaming import DataStreamWriter, StreamingQuery
        from pyspark.sql.streaming.listener import JStreamingQueryListener

        from flink_spark.catalog import TableEnvironment

        tracer = self
        client = spark.sparkContext._gateway._gateway_client
        send = client.send_command

        def send_command(command, *args, **kwargs):
            # "m\n" commands are py4j's own garbage collection of proxies
            if (tracer.enabled and not getattr(_tls, "internal", False)
                    and not command.startswith("m\n")):
                with tracer._lock:
                    tracer.py4j_calls += 1
            return send(command, *args, **kwargs)

        client.send_command = send_command

        execute_sql = TableEnvironment.execute_sql

        def traced_execute_sql(env, sql):
            if not tracer.enabled:
                return execute_sql(env, sql)
            depth = getattr(_tls, "sql_depth", 0)
            if depth == 0:
                with tracer._lock:
                    tracer.statements += 1
            _tls.sql_depth = depth + 1
            try:
                with tracer.span("catalog", kind=statement_kind(sql), top=depth == 0):
                    return execute_sql(env, sql)
            finally:
                _tls.sql_depth = depth

        TableEnvironment.execute_sql = traced_execute_sql

        start = DataStreamWriter.start

        def traced_start(writer, *args, **kwargs):
            t0, e0 = time.perf_counter(), time.time()
            q = start(writer, *args, **kwargs)
            if tracer._on_main():
                with internal():
                    run_id = str(q.runId)
                tracer._drain_open[run_id] = (t0, e0, tracer._stack[-1] if tracer._stack else None)
            return q

        DataStreamWriter.start = traced_start

        await_termination = StreamingQuery.awaitTermination

        def traced_await(q, *args, **kwargs):
            out = await_termination(q, *args, **kwargs)
            if tracer._on_main():
                with internal():
                    run_id = str(q.runId)
                    active = q.isActive
                opened = tracer._drain_open.get(run_id)
                if opened is not None and not active:
                    del tracer._drain_open[run_id]
                    t0, e0, parent = opened
                    tracer.spans.append({
                        "name": "drain", "id": len(tracer.spans), "t0": t0, "e0": e0, "parent": parent,
                        "t1": time.perf_counter(), "e1": time.time(), "run_id": run_id,
                    })
            return out

        StreamingQuery.awaitTermination = traced_await

        # the listener's own event decoding calls back into the JVM
        for name in ("onQueryStarted", "onQueryProgress", "onQueryIdle", "onQueryTerminated"):
            setattr(JStreamingQueryListener, name, _internal_call(getattr(JStreamingQueryListener, name)))

        self.listener = _progress_listener()
        with internal():
            spark.streams.addListener(self.listener)

    # -- per-query readout -------------------------------------------------

    def subtree(self, root: int) -> list[int]:
        out, frontier = [], {root}
        for i in range(root + 1, len(self.spans)):
            if self.spans[i]["parent"] in frontier:
                frontier.add(i)
                out.append(i)
        return out

    def self_time(self, i: int) -> float:
        s = self.spans[i]
        child = sum(c["t1"] - c["t0"] for c in self.spans if c["parent"] == i)
        return s["t1"] - s["t0"] - child


def _internal_call(fn):
    def wrapper(*args, **kwargs):
        with internal():
            return fn(*args, **kwargs)

    return wrapper


def _progress_listener():
    from pyspark.sql.streaming import StreamingQueryListener

    class ProgressListener(StreamingQueryListener):
        """Collects progress by ``runId``. Events arrive asynchronously, so
        a drain's record is complete only once its terminated event has
        arrived; ``wait_terminated`` blocks until then."""

        def __init__(self):
            self.progress: dict[str, list[dict]] = collections.defaultdict(list)
            self.terminated: set[str] = set()
            self._cond = threading.Condition()

        def onQueryStarted(self, event):
            pass

        def onQueryProgress(self, event):
            p = event.progress
            rec = {
                "batch": p.batchId,
                "input_rows": p.numInputRows,
                "durations": dict(p.durationMs),
                "state": [
                    {"rows": s.numRowsTotal, "bytes": s.memoryUsedBytes,
                     "commit_ms": s.commitTimeMs}
                    for s in p.stateOperators
                ],
            }
            with self._cond:
                self.progress[str(p.runId)].append(rec)

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            with self._cond:
                self.terminated.add(str(event.runId))
                self._cond.notify_all()

        def wait_terminated(self, run_ids, timeout: float = 30.0) -> bool:
            with self._cond:
                return self._cond.wait_for(
                    lambda: all(r in self.terminated for r in run_ids), timeout
                )

    return ProgressListener()


def planning_phases(df) -> dict:
    """Seconds per ``QueryPlanningTracker`` phase of ``df``'s execution,
    and the epoch seconds the analysis ran at (``analysis_at``, the middle
    of its window; None when it has none), so it can be placed in the span
    it ran in."""
    out = {"analysis_at": None}
    with internal():
        phases = df._jdf.queryExecution().tracker().phases()
        for phase in ("analysis", "optimization", "planning"):
            opt = phases.get(phase)
            out[phase] = 0.0
            if opt.isDefined():
                summary = opt.get()
                out[phase] = summary.durationMs() / 1000.0
                if phase == "analysis":
                    out["analysis_at"] = (summary.startTimeMs() + summary.endTimeMs()) / 2000.0
    return out


# -- Spark event log ------------------------------------------------------

PY_METRICS = {
    "data sent to Python workers": "bytes_to_worker",
    "data returned from Python workers": "bytes_from_worker",
    "time to start Python workers": "worker_boot_ms",
    "time to run Python workers": "worker_run_ms",
}


def read_event_log(log_dir: str) -> list[dict]:
    files = [f for f in os.listdir(log_dir) if not f.startswith(".")]
    events = []
    for name in files:
        with open(os.path.join(log_dir, name)) as fh:
            events.extend(json.loads(line) for line in fh if line.strip())
    return events


def spark_metrics(events: list[dict], windows: dict[str, tuple[float, float]],
                  drains: dict[str, list[tuple[float, float]]]) -> dict[str, dict]:
    """Per query: jobs, stages and task metrics whose start falls in the
    query's epoch window ``(e0, e1)`` in seconds. ``drains`` holds each
    query's drain windows; while a drain runs the main thread waits for
    it, so every job and file write starting inside one is the stream's."""

    def owner(ms):
        t = ms / 1000.0
        for q, (e0, e1) in windows.items():
            if e0 <= t <= e1:
                return q
        return None

    def in_drain(q, ms):
        return any(e0 <= ms / 1000.0 <= e1 for e0, e1 in drains.get(q, ()))

    zero = lambda: {  # noqa: E731
        "jobs": 0, "stages": 0, "tasks": 0, "task_run_s": 0.0, "task_cpu_s": 0.0,
        "gc_s": 0.0, "input_bytes": 0, "shuffle_read_bytes": 0,
        "shuffle_write_bytes": 0, "spill_bytes": 0, "stream_jobs": 0, "stream_writes": 0,
        "skew": [], **{v: 0 for v in PY_METRICS.values()},
    }
    out = {q: zero() for q in windows}
    stage_tasks: dict[tuple[int, int], list[float]] = collections.defaultdict(list)
    stage_owner: dict[tuple[int, int], str] = {}
    for ev in events:
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            q = owner(ev["Submission Time"])
            if q is None:
                continue
            out[q]["jobs"] += 1
            out[q]["stream_jobs"] += in_drain(q, ev["Submission Time"])
        elif kind == "SparkListenerStageCompleted":
            info = ev["Stage Info"]
            q = owner(info.get("Submission Time", 0))
            if q is not None:
                out[q]["stages"] += 1
                stage_owner[(info["Stage ID"], info["Stage Attempt ID"])] = q
        elif kind == "SparkListenerTaskEnd":
            info, m = ev["Task Info"], ev.get("Task Metrics") or {}
            q = owner(info["Launch Time"])
            if q is None:
                continue
            r = out[q]
            r["tasks"] += 1
            r["task_run_s"] += m.get("Executor Run Time", 0) / 1000.0
            r["task_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
            r["gc_s"] += m.get("JVM GC Time", 0) / 1000.0
            r["input_bytes"] += (m.get("Input Metrics") or {}).get("Bytes Read", 0)
            sr = m.get("Shuffle Read Metrics") or {}
            r["shuffle_read_bytes"] += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
            r["shuffle_write_bytes"] += (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
            r["spill_bytes"] += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
            for acc in info.get("Accumulables") or []:
                key = PY_METRICS.get(acc.get("Name"))
                if key is not None:
                    r[key] += int(acc.get("Update") or 0)
            stage_tasks[(ev["Stage ID"], ev["Stage Attempt ID"])].append(
                info["Finish Time"] - info["Launch Time"])
        elif kind == "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart":
            q = owner(ev.get("time", 0))
            if (q is not None and in_drain(q, ev["time"])
                    and "InsertIntoHadoopFsRelationCommand" in ev.get("physicalPlanDescription", "")):
                out[q]["stream_writes"] += 1
    for key, times in stage_tasks.items():
        q = stage_owner.get(key)
        if q is not None and len(times) >= 2 and statistics.median(times) > 0:
            out[q]["skew"].append(max(times) / statistics.median(times))
    for r in out.values():
        r["task_skew"] = max(r.pop("skew"), default=1.0)
    return out
