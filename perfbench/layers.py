"""The traced run's layer table and per-layer metrics.

One row per query per traced pass. A row splits the query's wall time into
layers, each the self time of its spans:

* batch:  ``build_s + analysis_s + catalog_s + plan_s + exec_s``;
* stream: the same plus ``trigger_s + drain_overhead_s`` (the drains run
  inside ``fn``; a drain's wall time minus its triggers' ``triggerExecution``
  is its start, checkpoint and stop overhead).

``analysis_s`` is the final DataFrame's analysis. It is taken out of the
layer whose span it ran in (``analysis_in``): ``fn`` for DataFrame-API
queries, ``catalog`` when the result comes from SQL text. ``unaccounted_frac``
is the query span's own time outside every child span, a share of its wall.

The split is a partition of the wall time by construction, so what can go
wrong is a layer's value, not the sum. ``flags`` names the row's broken
values: a layer below zero (for a drain, triggers that sum to more than
the drain's wall time) or a drain whose progress events did not all arrive.
"""

from __future__ import annotations

import statistics

from tracing import WRITE_KINDS, read_event_log, spark_metrics

PHASES = {
    "addBatch": "add_batch_s", "queryPlanning": "query_planning_s",
    "walCommit": "wal_commit_s", "commitOffsets": "commit_offsets_s",
    "latestOffset": "latest_offset_s",
}

#: every per-layer metric and its unit
PER_LAYER_UNITS = {
    "queries.build_s": "s", "queries.py4j_calls": "count",
    "catalyst.analysis_s": "s", "catalyst.optimization_s": "s", "catalyst.planning_s": "s",
    "spark.exec_s": "s", "spark.jobs": "count", "spark.stages": "count", "spark.tasks": "count",
    "spark.task_run_s": "s", "spark.task_cpu_s": "s", "spark.gc_s": "s",
    "spark.input_bytes": "bytes", "spark.shuffle_read_bytes": "bytes",
    "spark.shuffle_write_bytes": "bytes", "spark.spill_bytes": "bytes",
    "spark.task_skew": "ratio",
    "python.bytes_to_worker": "bytes", "python.bytes_from_worker": "bytes",
    "python.worker_cpu_s": "s", "python.workers_started": "count",
    "streaming.batches": "count", "streaming.jobs_per_batch": "ratio",
    "streaming.writes_per_batch": "ratio", "streaming.drain_overhead_s": "s",
    "streaming.trigger_p50_s": "s", "streaming.trigger_max_s": "s",
    **{f"streaming.{v}": "s" for v in PHASES.values()},
    "streaming.state_rows": "count", "streaming.state_bytes": "bytes",
    "streaming.state_commit_s": "s",
    "catalog.statements": "count", "catalog.execute_sql_s": "s", "catalog.write_s": "s",
    "session.get_spark_s": "s",
    "query_tail_s": "s",
    "proc.peak_rss_mb": "MB",
    "proc.rss_growth_mb_per_pass": "MB/pass",
    "trace.overhead": "ratio",
    "failed_frac": "ratio",
}


def _dur(span) -> float:
    return span["t1"] - span["t0"]


def query_row(tracer, qr) -> dict:
    """Layer split of one traced query execution (spans and listener)."""
    root = qr.layer["span"]
    spans = [root, *tracer.subtree(root)]
    by_name: dict[str, float] = {}
    for i in spans:
        name = tracer.spans[i]["name"]
        by_name[name] = by_name.get(name, 0.0) + tracer.self_time(i)
    drains = [tracer.spans[i] for i in spans if tracer.spans[i]["name"] == "drain"]
    top_sql = [tracer.spans[i] for i in spans
               if tracer.spans[i]["name"] == "catalog" and tracer.spans[i]["top"]]
    phases = qr.layer["phases"]
    # the innermost span the analysis ran in; none when it ran before the
    # query (a plan reused from an earlier execution)
    at = phases["analysis_at"]
    holders = [tracer.spans[i] for i in spans
               if at is not None and tracer.spans[i]["e0"] <= at <= tracer.spans[i]["e1"]]
    analysis_in = min(holders, key=_dur)["name"] if holders else None
    analysis_s = phases["analysis"] if analysis_in else 0.0
    if analysis_in:
        by_name[analysis_in] -= analysis_s
    wall = _dur(tracer.spans[root])
    row = {
        "query": qr.name,
        "kind": "stream" if drains else "batch",
        "wall_s": wall,
        "build_s": by_name.get("fn", 0.0),
        "analysis_s": analysis_s,
        "analysis_in": analysis_in,
        "optimization_s": phases["optimization"],
        "planning_s": phases["planning"],
        "plan_s": by_name.get("plan", 0.0),
        "exec_s": by_name.get("exec", 0.0),
        "catalog_s": by_name.get("catalog", 0.0),
        "statements": qr.layer["statements"],
        "execute_sql_s": sum(_dur(s) for s in top_sql),
        "write_s": sum(_dur(s) for s in top_sql if s["kind"] in WRITE_KINDS),
        "statement_kinds": sorted({s["kind"] for s in top_sql}),
        "py4j_calls": qr.layer["py4j_calls"],
        "drains": len(drains),
        "e0": tracer.spans[root]["e0"],
        "e1": tracer.spans[root]["e1"],
    }
    listener = tracer.listener
    run_ids = [d["run_id"] for d in drains]
    row["progress_complete"] = listener.wait_terminated(run_ids)
    triggers, state_rows, state_bytes, state_commit_ms, batches = [], 0, 0, 0, 0
    phase_ms = dict.fromkeys(PHASES.values(), 0)
    for rid in run_ids:
        progress = listener.progress.get(rid, [])
        for p in progress:
            d = p["durations"]
            if "triggerExecution" in d:
                triggers.append(d["triggerExecution"] / 1000.0)
            if "addBatch" in d:
                batches += 1
            for k, v in PHASES.items():
                phase_ms[v] += d.get(k, 0)
            state_commit_ms += sum(s["commit_ms"] for s in p["state"])
        if progress:
            state_rows += sum(s["rows"] for s in progress[-1]["state"])
            state_bytes += sum(s["bytes"] for s in progress[-1]["state"])
    row.update({
        "run_ids": run_ids,
        "drain_windows": [(d["e0"], d["e1"]) for d in drains],
        "batches": batches,
        "triggers": triggers,
        "trigger_s": sum(triggers),
        "drain_overhead_s": by_name.get("drain", 0.0) - sum(triggers),
        **{k: v / 1000.0 for k, v in phase_ms.items()},
        "state_rows": state_rows,
        "state_bytes": state_bytes,
        "state_commit_s": state_commit_ms / 1000.0,
        "unaccounted_frac": by_name["query"] / wall if wall else 0.0,
    })
    flags = [f"{col}_negative" for col in ("build_s", "catalog_s", "plan_s", "exec_s",
                                           "drain_overhead_s") if row[col] < 0]
    if not row["progress_complete"]:
        flags.append("progress_incomplete")
    row["flags"] = flags
    return row


def query_rows(tracer, traced) -> list[dict]:
    """One row per query per traced pass; needs the live session's
    listener, so it runs before the session stops."""
    return [{"pass": i, **query_row(tracer, qr)}
            for i, p in enumerate(traced) for qr in p["runs"] if qr.layer is not None]


def summarize(rows, traced, eventlog_dir) -> tuple[list[dict], dict[str, float]]:
    """Adds the event log's Spark metrics to ``rows`` and returns them with
    the per-layer metrics the traced passes give: each the median over
    traced passes of the pass total (or pass-level ratio)."""
    windows = {f"{r['pass']}:{r['query']}": (r["e0"], r["e1"]) for r in rows}
    drains = {f"{r['pass']}:{r['query']}": r["drain_windows"] for r in rows}
    spark = spark_metrics(read_event_log(eventlog_dir), windows, drains)
    for r in rows:
        r.update(spark[f"{r['pass']}:{r['query']}"])

    per_pass = []
    for i, p in enumerate(traced):
        pr = [r for r in rows if r["pass"] == i]
        batches = sum(r["batches"] for r in pr)
        triggers = [t for r in pr for t in r["triggers"]]

        def total(col, rs=pr):
            return sum(r[col] for r in rs)

        m = {
            "queries.build_s": total("build_s"),
            "queries.py4j_calls": total("py4j_calls"),
            "catalyst.analysis_s": total("analysis_s"),
            "catalyst.optimization_s": total("optimization_s"),
            "catalyst.planning_s": total("planning_s"),
            "spark.exec_s": total("exec_s"),
            "spark.task_skew": max((r["task_skew"] for r in pr), default=1.0),
            "python.worker_cpu_s": p["worker_cpu_s"],
            "streaming.batches": batches,
            "streaming.jobs_per_batch": total("stream_jobs") / batches if batches else 0.0,
            "streaming.writes_per_batch": total("stream_writes") / batches if batches else 0.0,
            "streaming.trigger_p50_s": statistics.median(triggers) if triggers else 0.0,
            "streaming.trigger_max_s": max(triggers, default=0.0),
            "catalog.statements": total("statements"),
            "catalog.execute_sql_s": total("execute_sql_s"),
            "catalog.write_s": total("write_s"),
        }
        for col in ("jobs", "stages", "tasks", "task_run_s", "task_cpu_s", "gc_s",
                    "input_bytes", "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes"):
            m[f"spark.{col}"] = total(col)
        for col in ("bytes_to_worker", "bytes_from_worker"):
            m[f"python.{col}"] = total(col)
        for col in ("drain_overhead_s", *PHASES.values(), "state_rows", "state_bytes",
                    "state_commit_s"):
            m[f"streaming.{col}"] = total(col)
        per_pass.append(m)

    for r in rows:
        for k in ("e0", "e1", "triggers", "drain_windows"):
            r.pop(k)
    return rows, {k: statistics.median(m[k] for m in per_pass) for k in per_pass[0]}


def with_units(metrics: dict[str, float]) -> dict[str, dict]:
    """Every per-layer metric as ``{"value", "unit"}``; all must be present."""
    return {k: {"value": metrics[k], "unit": u} for k, u in PER_LAYER_UNITS.items()}
