"""Choose ``batch_sql``'s queries from a traced run of ``batch_sql_all``.

    python3 perfbench/run.py --workload batch_sql_all --seed 1 --seconds 1 --trace 1
    python3 perfbench/choose.py .perfbench_out/trace-batch_sql_all-seed*.json

Several traced runs (of other seeds) are pooled: a query's figures are
its means over every traced pass of every run.

For each group (the TPC-H queries, the SQL-text queries) it takes every
set of ``PICK`` queries whose summed wall time is at most ``PICK`` times the
group's mean query wall time, and picks the set whose profile is closest to
the whole group's. The profile is each layer's share of wall time (build,
analysis, catalog, plan, exec) and the Spark jobs and py4j calls per second
of wall time; the distance is the largest relative difference of any of
them, over the layers that take at least ``MIN_SHARE`` of the group's wall
time and both rates. It prints each group's profile beside the picked set's.
"""

from __future__ import annotations

import itertools
import json
import sys

from workloads import SQL_TEXT, TPCH

PICK = 4
MIN_SHARE = 0.01
LAYERS = ("build_s", "analysis_s", "catalog_s", "plan_s", "exec_s")
COUNTS = ("jobs", "py4j_calls")


def per_query(table: list[dict]) -> dict[str, dict[str, float]]:
    """Mean of each column over the traced passes, per query."""
    out: dict[str, dict[str, float]] = {}
    for r in table:
        q = out.setdefault(r["query"], dict.fromkeys(("n", "wall_s", *LAYERS, *COUNTS), 0.0))
        q["n"] += 1
        for k in ("wall_s", *LAYERS, *COUNTS):
            q[k] += r[k]
    for q in out.values():
        n = q.pop("n")
        for k in q:
            q[k] /= n
    return out


def profile(rows: list[dict[str, float]]) -> dict[str, float]:
    wall = sum(r["wall_s"] for r in rows)
    out = {k: sum(r[k] for r in rows) / wall for k in LAYERS}
    out.update({f"{k}_per_s": sum(r[k] for r in rows) / wall for k in COUNTS})
    out["wall_s"] = wall
    return out


def pick(stats: dict[str, dict[str, float]], names: tuple[str, ...]):
    group = profile([stats[n] for n in names])
    budget = PICK * group["wall_s"] / len(names)
    keys = [k for k in LAYERS if group[k] >= MIN_SHARE] + [f"{c}_per_s" for c in COUNTS]
    best = None
    for subset in itertools.combinations(names, PICK):
        rows = [stats[n] for n in subset]
        if sum(r["wall_s"] for r in rows) > budget:
            continue
        p = profile(rows)
        dist = max(abs(p[k] / group[k] - 1) for k in keys)
        if best is None or dist < best[0]:
            best = (dist, subset, p)
    return group, budget, best


def main(paths: list[str]) -> int:
    table = []
    for path in paths:
        with open(path) as fh:
            table += json.load(fh)["layer_table"]
    stats = per_query(table)
    for label, names in (("TPC-H", TPCH), ("SQL text", SQL_TEXT)):
        group, budget, (dist, subset, p) = pick(stats, names)
        print(f"{label}: {len(names)} queries, {group['wall_s']:.2f} s; "
              f"budget {budget:.2f} s; picked {p['wall_s']:.2f} s, distance {dist:.4f}")
        for n in subset:
            print(f"  {n}")
        print(f"  {'':18s}{'group':>9s}{'picked':>9s}")
        for k in (*LAYERS, *(f"{c}_per_s" for c in COUNTS)):
            print(f"  {k:18s}{group[k]:9.3f}{p[k]:9.3f}")
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
