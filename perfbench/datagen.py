"""Deterministic TPC-H-ish input tables for the benchmark.

``generate(out_dir, sf, seed)`` writes region, nation, customer, orders
and lineitem with the column names and types the repo's example mappings
and DuckDB oracles use (``morph_xr2rml_spark/examples.py``), plus the
``orderdocs`` JSON corpus: one document per order with its lineitems
nested, the input of ``examples.LINEITEM_JSON_MAPPING``.

Row counts follow TPC-H (customer 150k*sf, orders 1.5M*sf, lineitem
6M*sf).  Lineitems draw their order uniformly and their line number
uniformly from 1..7, which is the shape of the repo's TPC-H-ish test
tables (sf0.001, sf0.01, sf0.1): there 23.4-23.9% of lineitems repeat an
(order, line) pair already taken, and the LINEITEM_JSON_MAPPING dedup
keeps 0.919-0.921 of the triples it is given (1,653,437 of 1,800,000 at
sf0.1).  The generated tables give 23.8-24.2% and 0.917-0.919.  The same
(sf, seed) always gives the same bytes of data.
"""

from __future__ import annotations

import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLES = ("region", "nation", "customer", "orders", "lineitem")
SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")

# several files per large table, so scans start with more than one split
FILES_PER_TABLE = 8


def sizes(sf: float) -> dict[str, int]:
    return {"customer": max(50, int(150_000 * sf)),
            "orders": max(500, int(1_500_000 * sf)),
            "lineitem": max(2_000, int(6_000_000 * sf)),
            "parts": max(200, int(200_000 * sf))}


def _write(table: pa.Table, path: str, files: int) -> None:
    os.makedirs(path, exist_ok=True)
    step = -(-table.num_rows // files)
    for i in range(files):
        part = table.slice(i * step, step)
        if part.num_rows:
            pq.write_table(part, os.path.join(path, f"part-{i:05d}.parquet"))


def _cents(rng: np.random.Generator, lo: int, hi: int, n: int) -> np.ndarray:
    """Money as an exact two-decimal double (integer cents / 100), so the
    DECIMAL(12,2) casts in Spark and DuckDB agree on every value."""
    return rng.integers(lo, hi, n) / 100.0


def generate(out_dir: str, sf: float, seed: int) -> dict[str, int]:
    """Write every table under ``out_dir/<name>.parquet/``; returns the
    row counts."""
    rng = np.random.default_rng(seed)
    n = sizes(sf)
    counts = {}

    region = pa.table({"r_regionkey": pa.array(range(5), pa.int32()),
                       "r_name": list(REGIONS)})
    nation = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})

    nc = n["customer"]
    customer = pa.table({
        "c_custkey": pa.array(np.arange(nc), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(nc)],
        "c_nationkey": pa.array(rng.integers(0, 25, nc), pa.int32()),
        "c_acctbal": pa.array(_cents(rng, -99_999, 999_999, nc)),
        "c_mktsegment": pa.array(np.array(SEGMENTS)[rng.integers(0, 5, nc)]),
    })

    no = n["orders"]
    days = rng.integers(0, 2404, no)   # 1995-01-01 .. 2001-08-01
    orderdate = (np.datetime64("1995-01-01", "D") + days) \
        .astype("datetime64[us]")
    orders = pa.table({
        "o_orderkey": pa.array(np.arange(no), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, nc, no), pa.int64()),
        "o_orderstatus": pa.array(np.array(["F", "O", "P"])
                                  [rng.integers(0, 3, no)]),
        "o_totalprice": pa.array(_cents(rng, 100_000, 50_000_000, no)),
        "o_orderdate": pa.array(orderdate, pa.timestamp("us")),
        "o_orderpriority": pa.array(np.array(PRIORITIES)
                                    [rng.integers(0, 5, no)]),
    })

    nl = n["lineitem"]
    lineitem = pa.table({
        "l_orderkey": pa.array(rng.integers(0, no, nl), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n["parts"], nl), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, nl), pa.int32()),
        "l_quantity": pa.array(rng.integers(1, 51, nl).astype(np.float64)),
    })

    for name, table in (("region", region), ("nation", nation),
                        ("customer", customer), ("orders", orders),
                        ("lineitem", lineitem)):
        files = 1 if table.num_rows < 1000 else FILES_PER_TABLE
        _write(table, os.path.join(out_dir, f"{name}.parquet"), files)
        counts[name] = table.num_rows
    counts["orderdocs"] = write_orderdocs(lineitem, out_dir)
    return counts


def write_orderdocs(lineitem: pa.Table, out_dir: str) -> int:
    """One JSON document per order that has lineitems, lines sorted by
    (ln, pk, qty) — the shape ``examples.orderdocs_df`` builds in Spark."""
    ok = lineitem.column("l_orderkey").to_numpy()
    ln = lineitem.column("l_linenumber").to_numpy()
    pk = lineitem.column("l_partkey").to_numpy()
    qty = lineitem.column("l_quantity").to_numpy().astype(np.int64)
    order = np.lexsort((qty, pk, ln, ok))
    ok, ln, pk, qty = ok[order], ln[order], pk[order], qty[order]
    starts = np.flatnonzero(np.r_[True, ok[1:] != ok[:-1]])
    ends = np.r_[starts[1:], len(ok)]
    docs = []
    for s, e in zip(starts.tolist(), ends.tolist()):
        lines = [{"ln": a, "pk": b, "qty": c} for a, b, c in
                 zip(ln[s:e].tolist(), pk[s:e].tolist(), qty[s:e].tolist())]
        docs.append(json.dumps({"ok": int(ok[s]), "lines": lines},
                               separators=(",", ":")))
    _write(pa.table({"content": docs}),
           os.path.join(out_dir, "orderdocs.parquet"), FILES_PER_TABLE)
    return len(docs)


def parquet_path(data_dir: str, name: str) -> str:
    """The directory of a table's part files."""
    return os.path.join(data_dir, f"{name}.parquet")


def duckdb_source(data_dir: str, name: str) -> str:
    return f"read_parquet('{parquet_path(data_dir, name)}/*.parquet')"
