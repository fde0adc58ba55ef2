"""Driver contract for the spark-graft builder (PySpark target).

entry(spark)   — flagship KG materialization at sf0.001 (smoke).
queries()      — one entry per implemented operator (SURVEY.md §2).
oracle_sql()   — exact DuckDB equivalents for the correctness gate.
"""

from __future__ import annotations

import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

sys.path.insert(0, "/root/repo")


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: the TPC-H KG materialization through materialize_auto
    (every TM routed to the native compiler: scans → term projections →
    equi-joins → union; the dedup is proved unnecessary) at sf0.001."""
    from morph_xr2rml_spark.examples import kg_tpch_triples
    return kg_tpch_triples(spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    from morph_xr2rml_spark import examples

    q: dict[str, Callable[[SparkSession, str], DataFrame]] = {
        # xR2RML materialization — native (tabular/R2RML) compiler
        "kg_tpch_triples": examples.kg_tpch_triples,
        # xR2RML materialization over JSON documents (iterator + pushDown +
        # reference/template term maps) through materialize_auto, which
        # routes the TM to the json-native compiler
        "kg_lineitem_json_triples": examples.kg_lineitem_json_triples,
    }
    for name in examples.SPARQL_QUERIES:
        q[name] = examples.make_sparql_query(name)
    for name, (fn, _sql) in examples.EXTRA_QUERIES.items():
        q[name] = fn
    return q


def oracle_sql() -> dict[str, str]:
    from morph_xr2rml_spark import examples

    o = {
        "kg_tpch_triples": examples.kg_tpch_oracle_sql(),
        "kg_lineitem_json_triples": examples.kg_lineitem_json_oracle_sql(),
    }
    for name in examples.SPARQL_QUERIES:
        o[name] = examples.sparql_oracle_sql(name)
    for name, (_fn, sql) in examples.EXTRA_QUERIES.items():
        o[name] = sql
    return o
