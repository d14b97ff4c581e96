"""Self-test of the benchmark: one tiny workload, untraced and traced.

    python3 perfbench/selftest.py

Runs ``selftest_tiny`` (three cheap queries over sf0.001-derived inputs)
through ``run.py`` as the benchmark's own command does, and checks that:

* the last output line has exactly ``correct``, ``attempted``, ``failed``
  and ``metrics``;
* untraced, the metrics are exactly ``BENCHMARK.json``'s end-to-end
  metrics with their units; traced, exactly its per-layer metrics;
* ``failed_frac`` is ``failed / attempted``;
* the traced run's layer table has one row per query per traced pass,
  with the pinned columns; no row is flagged (a layer below zero, or a
  drain whose progress events did not all arrive); and the query span's
  own time outside build, plan and exec stays within 10% of its wall;
* the correctness gate fails a wrong result and passes a right one.

Exits 0 when every check holds.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

LAYER_COLUMNS = {
    "pass", "query", "kind", "wall_s", "build_s", "analysis_s", "analysis_in", "optimization_s",
    "planning_s", "plan_s", "exec_s", "catalog_s", "statements", "execute_sql_s",
    "write_s", "statement_kinds", "py4j_calls", "drains", "progress_complete", "run_ids",
    "batches", "trigger_s", "drain_overhead_s", "add_batch_s", "query_planning_s",
    "wal_commit_s", "commit_offsets_s", "latest_offset_s", "state_rows", "state_bytes",
    "state_commit_s", "unaccounted_frac", "jobs", "stages", "tasks", "task_run_s",
    "task_cpu_s", "gc_s", "input_bytes", "shuffle_read_bytes", "shuffle_write_bytes",
    "spill_bytes", "stream_jobs", "stream_writes", "bytes_to_worker", "bytes_from_worker",
    "worker_boot_ms", "worker_run_ms", "task_skew", "flags",
}


def bench(trace: int, seed: int = 0) -> tuple[dict, dict]:
    out = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", "selftest_tiny",
         "--seed", str(seed), "--seconds", "1", "--trace", str(trace)],
        cwd=ROOT, capture_output=True, text=True, timeout=400, check=True,
    ).stdout.strip().splitlines()
    return json.loads(out[-2]), json.loads(out[-1])


def expect(cond: bool, what: str, failures: list[str]) -> None:
    print(("ok   " if cond else "FAIL ") + what)
    if not cond:
        failures.append(what)


def check_gate(failures: list[str]) -> None:
    """The oracle comparison flags a wrong value and passes an equal one,
    without Spark: a stand-in DataFrame carries the schema."""
    sys.path[:0] = [HERE, ROOT]
    from pyspark.sql.types import LongType, StructField, StructType

    from check import mismatch

    class Frame:
        columns = ["n"]
        schema = StructType([StructField("n", LongType())])

        class sparkSession:  # noqa: N801 - mirrors DataFrame.sparkSession
            class _jconf:  # noqa: N801
                @staticmethod
                def sessionLocalTimeZone():
                    return "UTC"

    class Oracle:
        def expected(self, name, sql):
            import pandas as pd

            return pd.DataFrame({"n": [3]})

    class Entry:
        name, oracle = "gate", "SELECT 3 AS n"

    expect(mismatch(Entry, Frame, [(3,)], Oracle()) is None, "gate passes an equal result", failures)
    expect(mismatch(Entry, Frame, [(4,)], Oracle()) is not None, "gate fails a wrong value", failures)
    Entry.oracle = None
    expect(mismatch(Entry, Frame, [], Oracle()) is not None, "gate fails an empty oracle-less result", failures)


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    failures: list[str] = []
    check_gate(failures)
    for trace, listed in ((0, spec["end_to_end"]), (1, spec["per_layer"])):
        details, result = bench(trace)
        expect(set(result) == {"correct", "attempted", "failed", "metrics"},
               f"trace={trace}: result keys", failures)
        expect(result["correct"] and result["failed"] == 0 and result["attempted"] >= 1,
               f"trace={trace}: tiny workload correct", failures)
        expect(details["failed_frac"] == result["failed"] / result["attempted"],
               f"trace={trace}: failed_frac is failed/attempted", failures)
        units = {m["name"]: m["unit"] for m in listed}
        got = {k: v["unit"] for k, v in result["metrics"].items()}
        expect(got == units, f"trace={trace}: every metric present with its unit", failures)
        expect(all(isinstance(v["value"], (int, float)) for v in result["metrics"].values()),
               f"trace={trace}: metric values are numbers", failures)
        if trace:
            with open(os.path.join(ROOT, details["layer_table"])) as fh:
                table = json.load(fh)["layer_table"]
            passes = {r["pass"] for r in table}
            expect(len(table) == 3 * len(passes), "layer table: a row per query per pass", failures)
            expect(all(set(r) == LAYER_COLUMNS for r in table), "layer table: pinned columns", failures)
            expect(not any(r["flags"] for r in table), "layer table: no flagged row", failures)
            expect(not details["flagged_rows"], "traced run: no flagged row reported", failures)
            expect(all(0 <= r["unaccounted_frac"] <= 0.1 for r in table),
                   "layer table: layers cover wall time within 10%", failures)
            expect(all(r["progress_complete"] and r["batches"] >= 1 and r["trigger_s"] > 0
                       for r in table if r["kind"] == "stream"),
                   "layer table: every drain's progress arrived", failures)
            expect({r["kind"] for r in table} == {"batch", "stream"},
                   "layer table: batch and stream rows", failures)
            expect(any(r["statements"] for r in table), "layer table: catalog statements", failures)
    print("selftest:", "FAILED " + "; ".join(failures) if failures else "passed")
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
