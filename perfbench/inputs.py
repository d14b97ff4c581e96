"""Seeded workload inputs.

Each run derives its tables from a read-only source directory of the
test-data star schema (one parquet file per table) and writes them into a
directory the run owns. The program under test only ever sees that
directory.

Derivation keeps every key, every row and the row order of the source,
so referential joins, primary keys and stream arrival order hold. What the
seed changes is which rows carry which measure values: for each perturbed
column a seeded tenth of the rows swap their values among themselves. The
swap draws only values the column already has, so every filter constant a
query uses keeps matching rows, while aggregates, rankings, joins on
measures and near-duplicate structure differ from seed to seed.
"""

from __future__ import annotations

import os
import zlib

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)

#: Column groups whose values swap between rows. Columns in one group move
#: together, so row-level invariants between them (a document's text and
#: its character count, a vector and its label) survive.
PERTURB: dict[str, list[tuple[str, ...]]] = {
    "customer": [("c_acctbal",), ("c_mktsegment",)],
    "supplier": [("s_acctbal",)],
    "part": [("p_retailprice",), ("p_size",), ("p_brand",), ("p_type",)],
    "orders": [("o_totalprice",), ("o_orderpriority",)],
    "lineitem": [
        ("l_quantity",), ("l_extendedprice",), ("l_discount",), ("l_tax",),
    ],
    "events": [("value",), ("props",)],
    "documents": [("text", "n_chars"), ("lang",), ("source",)],
    "embeddings": [("embedding", "label")],
}

SWAP_SHARE = 0.1


def _swap_order(n: int, rng: np.random.Generator) -> np.ndarray:
    """A row index that moves a random ``SWAP_SHARE`` of rows among
    themselves and leaves the rest in place."""
    order = np.arange(n)
    k = int(n * SWAP_SHARE)
    if k >= 2:
        picked = rng.choice(n, size=k, replace=False)
        order[picked] = rng.permutation(picked)
    return order


def derive_table(tbl: pa.Table, name: str, seed: int) -> pa.Table:
    # One generator per (seed, table): a table's derivation does not depend
    # on which other tables a workload asks for.
    rng = np.random.default_rng([seed, zlib.crc32(name.encode())])
    for group in PERTURB.get(name, []):
        order = pa.array(_swap_order(tbl.num_rows, rng))
        for col in group:
            i = tbl.schema.get_field_index(col)
            tbl = tbl.set_column(i, tbl.schema.field(i), tbl.column(i).take(order))
    return tbl


def generate(src_dir: str, dest_dir: str, seed: int, tables=TABLES) -> dict[str, int]:
    """Write ``tables`` of ``src_dir`` into ``dest_dir`` for ``seed``;
    returns the row count of each table."""
    os.makedirs(dest_dir, exist_ok=True)
    rows = {}
    for name in tables:
        tbl = derive_table(pq.read_table(os.path.join(src_dir, f"{name}.parquet")), name, seed)
        pq.write_table(tbl, os.path.join(dest_dir, f"{name}.parquet"))
        rows[name] = tbl.num_rows
    return rows
