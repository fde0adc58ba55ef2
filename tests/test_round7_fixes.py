"""Round-7 regression tests: the ADVICE_r06 correctness fixes.

1. invert_graph_ctx must NOT prune a TM from default-graph patterns when
   its graph maps are non-constant (a NULL render falls back to the
   default graph in all three compilers).
2. Expression aggregate inputs (AST lists) must make the aggregate
   pushdown refuse, not crash with TypeError: unhashable 'list'.
3. SourceCatalog re-registration must invalidate the JSON
   schema-sampling cache.
4. Postfix multi-var VALUES directly after ORDER BY must parse.
"""

from __future__ import annotations

import pytest
from pyspark.sql import Row, functions as F

from morph_xr2rml_spark.api import answer_auto
from morph_xr2rml_spark.model import MappingDocument
from morph_xr2rml_spark.rewrite import AMBIGUOUS, invert_graph_ctx
from morph_xr2rml_spark.sources import SourceCatalog

NULLABLE_GRAPH_MAPPING = """
@prefix rr:  <http://www.w3.org/ns/r2rml#> .
@prefix xrr: <http://i3s.unice.fr/xr2rml#> .
@prefix ex:  <http://example.com/> .
<#T>
    a rr:TriplesMap;
    rr:logicalTable [ rr:tableName "t"; xrr:uniqueRef "k" ];
    rr:subjectMap [ rr:template "http://example.org/t/{k}";
                    rr:graphMap [ rr:template "http://example.org/g/{gk}" ] ];
    rr:predicateObjectMap [ rr:predicate ex:name;
                            rr:objectMap [ rr:column "name" ] ].
"""

CONST_GRAPH_MAPPING = """
@prefix rr:  <http://www.w3.org/ns/r2rml#> .
@prefix xrr: <http://i3s.unice.fr/xr2rml#> .
@prefix ex:  <http://example.com/> .
<#T>
    a rr:TriplesMap;
    rr:logicalTable [ rr:tableName "t"; xrr:uniqueRef "k" ];
    rr:subjectMap [ rr:template "http://example.org/t/{k}";
                    rr:graphMap [ rr:constant ex:gfixed ] ];
    rr:predicateObjectMap [ rr:predicate ex:name;
                            rr:objectMap [ rr:column "name" ] ].
"""


def test_default_gctx_nonconstant_graph_map_is_ambiguous():
    tm = MappingDocument.from_text(NULLABLE_GRAPH_MAPPING).triples_maps["#T"]
    assert invert_graph_ctx(tm, None, ("default",)) is AMBIGUOUS


def test_default_gctx_constant_graph_map_still_prunes():
    tm = MappingDocument.from_text(CONST_GRAPH_MAPPING).triples_maps["#T"]
    assert invert_graph_ctx(tm, None, ("default",)) is None


def test_nullable_graph_template_row_survives_default_graph(spark):
    """ADVICE high: a NULL graph-template render falls back to the
    default graph — the default-graph answer must contain that row."""
    mapping = MappingDocument.from_text(NULLABLE_GRAPH_MAPPING)
    t = spark.createDataFrame(
        [Row(k=1, gk=7, name="in-graph"),
         Row(k=2, gk=None, name="default-graph")])
    out = answer_auto(spark, mapping, "PREFIX ex: <http://example.com/>\n"
                      "SELECT ?s ?n WHERE { ?s ex:name ?n } ORDER BY ?s",
                      tables={"t": t})
    rows = [tuple(r) for r in out.collect()]
    assert rows == [("<http://example.org/t/2>", '"default-graph"')]


def test_expression_aggregate_input_refuses_not_crashes(spark, tmp_path):
    from morph_xr2rml_spark.examples import TPCH_KG_MAPPING, tpch_tables
    mapping = MappingDocument.from_text(TPCH_KG_MAPPING)
    tables = tpch_tables(spark, "/root/testdata/sf0.001")
    out = answer_auto(spark, mapping, "PREFIX ex: <http://example.com/>\n"
                      "SELECT ?seg (COUNT(COALESCE(?b, ?b)) AS ?n) "
                      "WHERE { ?c ex:segment ?seg . ?c ex:acctbal ?b } "
                      "GROUP BY ?seg ORDER BY ?seg", tables=tables)
    # evaluator answers it; pushdown must have refused silently
    oracle = answer_auto(spark, mapping, "PREFIX ex: <http://example.com/>\n"
                         "SELECT ?seg (COUNT(?b) AS ?n) "
                         "WHERE { ?c ex:segment ?seg . ?c ex:acctbal ?b } "
                         "GROUP BY ?seg ORDER BY ?seg", tables=tables)
    assert [tuple(r) for r in out.collect()] == \
        [tuple(r) for r in oracle.collect()]


def test_schema_cache_invalidated_on_reregistration(spark):
    from morph_xr2rml_spark.native_json import JsonNativeCompiler
    from morph_xr2rml_spark.translate import EngineConfig
    mapping = MappingDocument.from_text("""
@prefix rr:  <http://www.w3.org/ns/r2rml#> .
@prefix xrr: <http://i3s.unice.fr/xr2rml#> .
@prefix ex:  <http://example.com/> .
<#D>
    a rr:TriplesMap;
    xrr:logicalSource [ xrr:query "db.c.find({})"; xrr:uniqueRef "$.k" ];
    rr:subjectMap [ rr:template "http://example.org/d/{$.k}" ];
    rr:predicateObjectMap [ rr:predicate ex:v;
                            rr:objectMap [ xrr:reference "$.v" ] ].
""")
    tm = mapping.triples_maps["#D"]
    cat = SourceCatalog()
    cat.register_collection(
        "c", spark.createDataFrame([('{"k": 1, "v": 5}',)], "content string"))
    jc = JsonNativeCompiler(spark, mapping, cat, EngineConfig())
    s1 = jc._schema_for(tm)
    assert str(s1["v"].dataType) == "LongType()"
    # re-register with a different value type on the SAME catalog
    cat.register_collection(
        "c", spark.createDataFrame([('{"k": 1, "v": "x"}',)], "content string"))
    jc2 = JsonNativeCompiler(spark, mapping, cat, EngineConfig())
    s2 = jc2._schema_for(tm)
    assert str(s2["v"].dataType) == "StringType()"


def test_postfix_values_after_order_by_parses():
    from morph_xr2rml_spark.sparql import parse_sparql
    q = parse_sparql(
        "PREFIX ex: <http://example.com/>\n"
        "SELECT ?s ?o WHERE { ?s ex:p ?x } ORDER BY ?s "
        "VALUES (?o) { (1) (2) }")
    assert q.order_by == [("s", True)]
    assert q.where.values and q.where.values[0][0] == ["o"]
