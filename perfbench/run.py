"""Run one benchmark workload and print its metrics.

Usage (from the root of a checkout):

    python3 perfbench/run.py --workload batch_sql --seed 1 --seconds 10 --trace 0

A run derives the workload's inputs from ``--seed``, starts a Spark session
at ``local[nproc]``, runs one untimed warm-up pass, then timed passes until
``--seconds`` have passed (at least the workload's pass count), and checks
every timed result against its DuckDB oracle off the clock. The last line
of standard output is one JSON object ``{"correct", "attempted", "failed",
"metrics"}``: the end-to-end metrics with ``--trace 0``, the per-layer
metrics with ``--trace 1``. The line before it describes the machine, the
failures (``failed_frac`` and the failing queries by name) and the tail
percentile and its sample count.

A traced run times only traced passes. It then runs the same workload and
seed untraced, in a fresh process, for the metrics that tracing would
distort: ``trace.overhead`` (traced over untraced ``pass_s``),
``query_tail_s``, ``proc.peak_rss_mb`` and ``proc.rss_growth_mb_per_pass``.
It writes its per-query layer table to
``.perfbench_out/trace-<workload>-seed<seed>.json``.

Every file a run writes (inputs, warehouse, checkpoints, Spark scratch and
event log) lives under ``.perfbench_run/`` in the checkout and is removed
when the run ends.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shlex
import shutil
import statistics
import subprocess
import sys
import tempfile
import threading
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import procfs  # noqa: E402
from workloads import WORKLOADS  # noqa: E402


def machine_shape() -> dict:
    cpus = len(os.sched_getaffinity(0))
    ram_gb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") / 2**30
    return {
        "cpus": cpus,
        "ram_gb": round(ram_gb, 1),
        # a quarter of RAM, at most 4g: the inputs are small and other
        # processes share the machine
        "driver_mem": f"{max(1, min(4, int(ram_gb // 4)))}g",
        "stream_shuffle": min(4, cpus),
    }


def configure(run_dir: str, shape: dict, trace: bool) -> dict:
    """Point every path the program and Spark write to into ``run_dir`` and
    size Spark to the machine. Must run before the JVM starts."""
    dirs = {k: os.path.join(run_dir, k) for k in
            ("data", "tmp", "warehouse", "ckpt", "stream_src", "local", "eventlog")}
    for d in dirs.values():
        os.makedirs(d, exist_ok=True)
    os.environ["TMPDIR"] = dirs["tmp"]
    tempfile.tempdir = dirs["tmp"]
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(shape["cpus"]),
        "SPARK_GRAFT_STREAM_SHUFFLE": str(shape["stream_shuffle"]),
        "SPARK_GRAFT_DRIVER_MEM": shape["driver_mem"],
        "SPARK_GRAFT_CKPT_ROOT": dirs["ckpt"],
        "SPARK_LOCAL_DIRS": dirs["local"],
        "PYSPARK_PYTHON": sys.executable,
        # Bounds glibc's per-thread malloc arenas, as YARN does for its
        # containers. Without it the JVM's resident memory wanders between
        # 2.5 and 5.5 GB from run to run on the same inputs.
        "MALLOC_ARENA_MAX": "2",
    })
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": dirs["warehouse"],
        "spark.local.dir": dirs["local"],
    }
    if trace:
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + dirs["eventlog"],
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    args = []
    for k, v in conf.items():
        args += ["--conf", f"{k}={v}"]
    os.environ["PYSPARK_SUBMIT_ARGS"] = shlex.join(args + ["pyspark-shell"])
    # every JVM, the spark-submit launcher's too: temp files in the run, no
    # hsperfdata file under /tmp
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={dirs['tmp']} -XX:-UsePerfData"
    return dirs


class Sampler(threading.Thread):
    """Samples the process tree's resident memory (and the Python worker
    pids) until stopped. The main thread also samples, around each pass."""

    def __init__(self, interval: float):
        super().__init__(daemon=True)
        self.interval = interval
        self.peak_mb = 0.0
        self.peak_by_role: dict[str, float] = {}
        self.worker_pids: set[int] = set()
        self._lock = threading.Lock()
        self._stop_evt = threading.Event()

    def run(self):
        while not self._stop_evt.is_set():
            self.take()
            self._stop_evt.wait(self.interval)

    def take(self) -> procfs.Sample:
        s = procfs.sample()
        with self._lock:
            if s.total_rss_mb > self.peak_mb:
                self.peak_mb, self.peak_by_role = s.total_rss_mb, dict(s.rss_mb)
            self.worker_pids |= s.worker_pids
        return s

    def stop(self):
        self._stop_evt.set()
        self.join()


class QueryRun:
    __slots__ = ("name", "seconds", "df", "rows", "error", "layer")

    def __init__(self, name):
        self.name, self.seconds, self.df, self.rows, self.error, self.layer = (
            name, 0.0, None, None, None, None)


def run_query(spark, entry, data_dir, tracer) -> QueryRun:
    """One execution: build, plan and collect. Traced, each step is a span
    and planning is forced on its own before ``collect()``."""
    from tracing import internal, planning_phases

    qr = QueryRun(entry.name)
    t0 = time.perf_counter()
    try:
        if tracer is not None and tracer.enabled:
            calls0, statements0 = tracer.py4j_calls, tracer.statements
            with tracer.span("query", query=entry.name) as qspan:
                with tracer.span("fn"):
                    df = entry.fn(spark, data_dir)
                with tracer.span("plan"):
                    with internal():
                        df._jdf.queryExecution().executedPlan()
                with tracer.span("exec"):
                    rows = df.collect()
            qr.layer = {"span": qspan["id"], "py4j_calls": tracer.py4j_calls - calls0,
                        "statements": tracer.statements - statements0,
                        "phases": planning_phases(df)}
        else:
            df = entry.fn(spark, data_dir)
            rows = df.collect()
        qr.seconds = time.perf_counter() - t0
        qr.df, qr.rows = df, rows
    except Exception as e:  # a failing query is counted, not fatal
        qr.seconds = time.perf_counter() - t0
        qr.error = f"{type(e).__name__}: {str(e)[:300]}"
        traceback.print_exc(file=sys.stderr)
    return qr


def run_pass(spark, queries, data_dir, tracer, sampler) -> dict:
    before = sampler.take()
    t0 = time.perf_counter()
    runs = [run_query(spark, q, data_dir, tracer) for q in queries]
    wall = time.perf_counter() - t0
    after = sampler.take()
    return {
        "wall_s": wall,
        "runs": runs,
        "cpu_s": after.total_cpu - before.total_cpu,
        "worker_cpu_s": after.cpu["workers"] - before.cpu["workers"],
        "rss_mb": after.total_rss_mb,
    }


def timed_passes(spark, queries, data_dir, min_passes, seconds, tracer, sampler) -> list[dict]:
    passes, t0 = [], time.perf_counter()
    while len(passes) < min_passes or time.perf_counter() - t0 < seconds:
        passes.append(run_pass(spark, queries, data_dir, tracer, sampler))
    return passes


def tail(passes: list[dict]) -> tuple[float, float, int]:
    """The highest percentile of query execution time with at least ten
    samples beyond it, as (value, percentile, samples); the maximum, at
    percentile 100, when there are ten samples or fewer."""
    s = sorted(r.seconds for p in passes for r in p["runs"])
    k = len(s) - 10  # the k-th smallest has exactly ten samples above it
    if k < 1:
        return s[-1], 100.0, len(s)
    return s[k - 1], round(100.0 * k / len(s), 1), len(s)


def end_to_end(setup_s, warm, passes, sampler) -> tuple[dict, dict]:
    times = [r.seconds for p in passes for r in p["runs"]]
    metrics = {
        "setup_s": (setup_s, "s"),
        "pass_s": (statistics.median(p["wall_s"] for p in passes), "s"),
        "query_p50_s": (statistics.median(times), "s"),
        "cpu_s": (statistics.median(p["cpu_s"] for p in passes), "s"),
    }
    per_query = {}
    for p in passes:
        for r in p["runs"]:
            per_query.setdefault(r.name, []).append(r.seconds)
    tail_s, tail_pct, tail_n = tail(passes)
    return metrics, {"query_samples": tail_n, "tail_s": tail_s, "tail_percentile": tail_pct,
                     "pass_walls_s": [round(p["wall_s"], 4) for p in passes],
                     "query_s": {q: [round(v, 4) for v in t] for q, t in per_query.items()},
                     "peak_rss_mb": sampler.peak_mb,
                     "peak_rss_mb_by_role": {k: round(v) for k, v in sampler.peak_by_role.items()},
                     "rss_growth_mb_per_pass": ((passes[-1]["rss_mb"] - warm["rss_mb"])
                                                / len(passes))}


def check_passes(passes, entries, oracle) -> list[dict]:
    from check import mismatch

    failures = []
    for i, p in enumerate(passes):
        for r in p["runs"]:
            reason = r.error or mismatch(entries[r.name], r.df, r.rows, oracle)
            if reason:
                failures.append({"pass": i, "query": r.name, "reason": reason})
    return failures


def stop_jvm() -> None:
    """Waits for the JVM to exit. EOF on its stdin is how PySpark tells the
    gateway process to end."""
    if "pyspark" not in sys.modules:
        return
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if gateway is not None and gateway.proc is not None:
        gateway.proc.stdin.close()
        gateway.proc.wait(timeout=60)


def run(args, shape) -> tuple[dict, dict, dict]:
    """One run in this process: untraced, the end-to-end metrics; traced,
    the per-layer metrics the traced passes give. Returns the result, the
    details and the traced layer table (None untraced)."""
    t_start = procfs.process_start_epoch()
    wl = WORKLOADS[args.workload]
    run_dir = os.path.join(ROOT, ".perfbench_run", f"{wl.name}-s{args.seed}-{os.getpid()}")
    dirs = configure(run_dir, shape, bool(args.trace))
    # traced runs sample often enough to see short-lived workers and peaks
    sampler = Sampler(0.1 if args.trace else 0.5)
    sampler.start()
    spark = oracle = None
    try:
        import inputs

        # deriving the inputs is the benchmark's work, not the program's:
        # it is kept out of setup_s
        t0 = time.perf_counter()
        inputs.generate(wl.source, dirs["data"], args.seed, wl.tables)
        inputs_s = time.perf_counter() - t0

        import flink_spark.queries  # noqa: F401  (registers every query)
        import flink_spark.streaming.core as stream_core
        from flink_spark.queries.registry import QUERIES
        from flink_spark.session import get_spark

        # chunked stream copies are reused by source path; keep them in the run
        stream_core._STREAM_DIR_ROOT = dirs["stream_src"]
        entries = {n: QUERIES[n] for n in wl.queries}
        queries = [entries[n] for n in wl.queries]

        t0 = time.perf_counter()
        spark = get_spark("perfbench", cpus=shape["cpus"])
        session_s = time.perf_counter() - t0

        tracer = None
        if args.trace:
            from tracing import Tracer

            tracer = Tracer()
            tracer.install(spark)

        warm = run_pass(spark, queries, dirs["data"], tracer, sampler)
        setup_s = time.time() - t_start - inputs_s

        if tracer is not None:
            pids0 = set(sampler.worker_pids)
            tracer.enabled = True
        steal0, ticks0 = procfs.cpu_ticks()
        passes = timed_passes(spark, queries, dirs["data"], wl.passes, args.seconds,
                              tracer, sampler)
        steal1, ticks1 = procfs.cpu_ticks()
        if tracer is not None:
            tracer.enabled = False
            workers_started = len(sampler.worker_pids - pids0) / len(passes)

        from check import Oracle

        oracle = Oracle(dirs["data"])
        failures = check_passes(passes, entries, oracle)
        attempted = sum(len(p["runs"]) for p in passes)

        details = {
            "workload": wl.name, "seed": args.seed, "machine": dict(shape),
            "inputs_s": inputs_s,
            # a shared host shows here: CPU taken by other guests while timing
            "steal_frac": (steal1 - steal0) / max(1, ticks1 - ticks0),
            "failed_frac": len(failures) / attempted,
            "failed_queries": sorted({f["query"] for f in failures}),
            "failures": failures[:20],
        }
        sc = spark.sparkContext
        details["machine"].update({
            "master": sc.master,
            "default_parallelism": sc.defaultParallelism,
            "shuffle_partitions": int(spark.conf.get("spark.sql.shuffle.partitions")),
            "driver_memory": sc.getConf().get("spark.driver.memory"),
        })
        table = None
        if tracer is None:
            metrics, extra = end_to_end(setup_s, warm, passes, sampler)
            details.update(extra)
        else:
            import layers

            rows = layers.query_rows(tracer, passes)
            spark.stop()  # closes the event log
            spark = None
            table, metrics = layers.summarize(rows, passes, dirs["eventlog"])
            metrics.update({
                "python.workers_started": workers_started,
                "session.get_spark_s": session_s,
            })
            details.update(
                traced_pass_s=statistics.median(p["wall_s"] for p in passes),
                flagged_rows=[{"pass": r["pass"], "query": r["query"], "flags": r["flags"]}
                              for r in table if r["flags"]],
            )
        result = {"correct": not failures, "attempted": attempted, "failed": len(failures),
                  "metrics": metrics}
        return result, details, table
    finally:
        if oracle is not None:
            oracle.close()
        if spark is not None:
            spark.stop()
        stop_jvm()
        sampler.stop()
        shutil.rmtree(run_dir, ignore_errors=True)
        with contextlib.suppress(OSError):  # other runs may share the parent
            os.rmdir(os.path.dirname(run_dir))


def untraced_run(args) -> tuple[dict, dict]:
    """The same workload and seed with ``--trace 0``, in a fresh process as
    the benchmark's own command runs it; returns its details and result."""
    cmd = [sys.executable, os.path.abspath(__file__), "--workload", args.workload,
           "--seed", str(args.seed), "--seconds", str(args.seconds), "--trace", "0"]
    # stderr passes through; a failure raises, so the traced run fails too
    out = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE, text=True,
                         timeout=600, check=True).stdout.splitlines()
    return json.loads(out[-2]), json.loads(out[-1])


def traced(args, result, details, table) -> tuple[dict, dict]:
    """Completes a traced run: the untraced run's figures, the per-layer
    metrics with their units, and the layer table file."""
    import layers

    base_details, base = untraced_run(args)
    metrics = result["metrics"]
    metrics.update({
        "trace.overhead": details["traced_pass_s"] / base["metrics"]["pass_s"]["value"],
        "query_tail_s": base_details["tail_s"],
        "proc.peak_rss_mb": base_details["peak_rss_mb"],
        "proc.rss_growth_mb_per_pass": base_details["rss_growth_mb_per_pass"],
    })
    attempted = result["attempted"] + base["attempted"]
    failed = result["failed"] + base["failed"]
    metrics["failed_frac"] = failed / attempted
    details.update(
        failed_frac=failed / attempted,
        failed_queries=sorted({*details["failed_queries"], *base_details["failed_queries"]}),
        failures=details["failures"] + [{**f, "untraced": True} for f in base_details["failures"]],
        untraced={k: base_details[k] for k in
                  ("pass_walls_s", "tail_percentile", "query_samples", "peak_rss_mb_by_role")},
        tail_percentile=base_details["tail_percentile"],
        tail_samples=base_details["query_samples"],
    )
    out_dir = os.path.join(ROOT, ".perfbench_out")
    os.makedirs(out_dir, exist_ok=True)
    path = os.path.join(out_dir, f"trace-{args.workload}-seed{args.seed}.json")
    with open(path, "w") as fh:
        json.dump({**details, "layer_table": table, "per_layer": metrics}, fh, indent=1)
    details["layer_table"] = os.path.relpath(path, ROOT)
    result = {"correct": result["correct"] and base["correct"], "attempted": attempted,
              "failed": failed, "metrics": layers.with_units(metrics)}
    return result, details


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    # the program and the workload's source data must be present; fail
    # before writing anything otherwise
    missing = [p for p in (os.path.join(ROOT, "flink_spark"), WORKLOADS[args.workload].source)
               if not os.path.isdir(p)]
    if missing:
        print(f"perfbench: missing {', '.join(missing)}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    result, details, table = run(args, machine_shape())
    if args.trace:
        result, details = traced(args, result, details, table)
        for r in details["flagged_rows"]:
            print(f"perfbench: layer row flagged: {r}", file=sys.stderr)
    else:
        result["metrics"] = {k: {"value": v, "unit": u} for k, (v, u) in result["metrics"].items()}
    print(json.dumps(details))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
