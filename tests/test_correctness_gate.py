"""Dry-run of the driver's correctness gate: every __spark_entry__
queries() entry vs its oracle_sql() at sf0.01 (the driver's comparison
scale).  Heavy — enabled via MXS_FULL_GATE=1; the per-op sf0.001
equivalents run in the default suite."""

import os
import pathlib

import duckdb
import pytest

pytestmark = pytest.mark.skipif(os.environ.get("MXS_FULL_GATE") != "1",
                                reason="set MXS_FULL_GATE=1 for the sf0.01 gate")

SF_DIR = "/root/testdata/sf0.01"
TABLES = ("region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings")


def _duck(sql: str):
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{SF_DIR}/{t}.parquet'")
    return con.execute(sql).fetchall()


def _entry():
    import sys
    sys.path.insert(0, str(pathlib.Path(__file__).resolve().parent.parent))
    import __spark_entry__ as e
    return e


def _null_safe_sort(rows):
    """NULLs sort before any string (tuples mixing None and str are not
    orderable directly)."""
    return sorted(rows, key=lambda r: tuple((x is not None, x or "")
                                            for x in r))


def test_all_queries_match_oracles_sf001(spark):
    e = _entry()
    queries = e.queries()
    oracles = e.oracle_sql()
    failures = []
    for name in sorted(queries):
        df = queries[name](spark, SF_DIR)
        got = _null_safe_sort(
            tuple(str(x) if x is not None else None for x in r)
            for r in df.collect())
        if name not in oracles:
            assert len(got) >= 0  # rows-only check
            continue
        want = _null_safe_sort(
            tuple(str(x) if x is not None else None for x in r)
            for r in _duck(oracles[name]))
        if len(got) != len(want):
            failures.append(f"{name}: rows {len(got)} vs {len(want)}")
            continue
        bad = [(g, w) for g, w in zip(got, want) if g != w]
        if bad:
            failures.append(f"{name}: first mismatch {bad[0]}")
    assert not failures, failures
