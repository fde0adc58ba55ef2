"""Correctness checks: the repo's DuckDB oracles over the generated input,
compared with what the program wrote or returned.

Every comparison is a row count plus an order-independent digest (the sum
of per-row hashes modulo 2**64).  Both sides are hashed in the same
process, so Python's per-process string hashing is consistent between
them.
"""

from __future__ import annotations

import os
import re

import pyarrow.compute as pc
import pyarrow.dataset as ds

from datagen import TABLES, duckdb_source

_MASK = (1 << 64) - 1
_LITERAL = re.compile(r'^"((?:[^"\\]|\\.)*)"(?:@([A-Za-z-]+)|\^\^<([^>]*)>)?$')


class Digest(tuple):
    """(row count, sum of row hashes mod 2**64)."""

    @classmethod
    def of(cls, rows) -> "Digest":
        n = 0
        acc = 0
        for r in rows:
            n += 1
            acc += hash(r)
        return cls((n, acc & _MASK))

    @property
    def count(self) -> int:
        return self[0]


class Oracle:
    """A DuckDB connection with the benchmark's tables as views."""

    def __init__(self, data_dir: str):
        import duckdb
        self.con = duckdb.connect()
        self.con.execute("SET threads TO 2")
        for t in TABLES:
            self.con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                             f"{duckdb_source(data_dir, t)}")

    def close(self) -> None:
        self.con.close()

    def rows(self, sql: str) -> list:
        return self.con.execute(sql).fetchall()

    def ntriples_digest(self, triples_sql: str) -> Digest:
        """Digest of the N-Triples lines ``subj pred obj .`` of a triple
        oracle query (columns subj, pred, obj, graph)."""
        lines = self.rows(f"SELECT subj || ' ' || pred || ' ' || obj || ' .' "
                          f"FROM ({triples_sql}) o")
        return Digest.of(line for (line,) in lines)

    def result_digest(self, sql: str) -> Digest:
        return Digest.of(_oracle_row(r) for r in self.rows(sql))


# -- the program's side -------------------------------------------------------

def _data_files(path: str) -> list[str]:
    out = []
    for dirpath, _dirs, files in os.walk(path):
        out.extend(os.path.join(dirpath, f) for f in files
                   if not f.startswith(("_", ".")))
    return sorted(out)


def output_bytes(path: str) -> int:
    return sum(os.path.getsize(f) for f in _data_files(path))


def ntriples_file_digest(path: str) -> Digest:
    """Digest of every line of the text part files under ``path``."""
    def lines():
        for f in _data_files(path):
            with open(f, encoding="utf-8") as fh:
                for line in fh:
                    yield line.rstrip("\n")
    return Digest.of(lines())


def parquet_triples_digest(path: str) -> Digest:
    """Digest of the triples in the parquet files under ``path``, rendered
    as N-Triples lines."""
    files = [f for f in _data_files(path) if f.endswith(".parquet")]

    def lines():
        for batch in ds.dataset(files, format="parquet").to_batches(
                columns=["subj", "pred", "obj"]):
            yield from pc.binary_join_element_wise(
                *batch.columns, ".", " ").to_pylist()
    return Digest.of(lines())


def _term(value):
    """An oracle cell as (kind, lexical, datatype-or-lang)."""
    if value is None:
        return None
    if not isinstance(value, str):
        return ("literal", str(value), None)
    if value.startswith("<") and value.endswith(">"):
        return ("uri", value[1:-1], None)
    m = _LITERAL.match(value)
    if m:
        tag = "@" + m.group(2) if m.group(2) else \
            ("^^" + m.group(3) if m.group(3) else None)
        return ("literal", m.group(1), tag)
    return ("literal", value, None)


def _oracle_row(row) -> tuple:
    return tuple(_term(v) for v in row)


def _binding(b):
    if b is None:
        return None
    if b["type"] == "literal":
        tag = "@" + b["xml:lang"] if "xml:lang" in b else \
            ("^^" + b["datatype"] if "datatype" in b else None)
        return ("literal", b["value"], tag)
    return (b["type"], b["value"], None)


def sparql_json_digest(result: dict) -> Digest:
    """Digest of a SPARQL 1.1 JSON result, in the oracle's row form."""
    cols = result["head"]["vars"]
    return Digest.of(tuple(_binding(b.get(c)) for c in cols)
                     for b in result["results"]["bindings"])
