"""Graph-position pushdown (round 6): GRAPH contexts participate in TM
candidacy and graph-map template inversion (rewrite.invert_graph_ctx),
and the evaluator propagates the active graph into nested groups and
property paths (SPARQL §18.2.2: GRAPH sets the active graph for the
whole enclosed pattern).  Reference emission semantics:
MorphRDBDataTranslator.scala:95-178 (subject ∪ POM target graphs)."""

import re

import pytest
from pyspark.sql import functions as F

from morph_xr2rml_spark.api import answer_auto
from morph_xr2rml_spark.examples import (GRAPH_KG_MAPPING, SPARQL_PREFIX,
                                         TPCH_KG_MAPPING, tpch_tables)
from morph_xr2rml_spark.model import MappingDocument
from morph_xr2rml_spark.rewrite import derive_tm_constraints
from morph_xr2rml_spark.sparql import SparqlEngine

SF_DIR = "/root/testdata/sf0.001"


def _full_scan_answer(spark, mapping_text, query):
    """Oracle: evaluate over the UNCONSTRAINED materialized quad pool."""
    from conftest import tier_pool
    mapping = MappingDocument.from_text(mapping_text)
    tables = tpch_tables(spark, SF_DIR)
    pool = tier_pool(spark, mapping, "native", tables, fused=False)
    return SparqlEngine(pool).sql(SPARQL_PREFIX + query)


def _rewritten(spark, mapping_text, query):
    mapping = MappingDocument.from_text(mapping_text)
    tables = tpch_tables(spark, SF_DIR)
    return answer_auto(spark, mapping, SPARQL_PREFIX + query, tables=tables)


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


DIFFERENTIAL = [
    # constant graph, template inversion
    "SELECT ?s ?n WHERE { GRAPH <http://example.org/g/2> "
    "{ ?s ex:name ?n } } ORDER BY ?s",
    # constant graph, constant graph map
    "SELECT ?s ?n WHERE { GRAPH <http://example.com/gnames> "
    "{ ?s ex:name ?n } } ORDER BY ?s",
    # variable graph binds every named graph
    "SELECT ?g ?n WHERE { GRAPH ?g { ?s ex:name ?n } } ORDER BY ?g ?n",
    # default graph: only the region TM emits there
    "SELECT ?n WHERE { ?s ex:name ?n } ORDER BY ?n",
    # graph that no graph map can render: empty
    "SELECT ?n WHERE { GRAPH <http://example.com/nope> "
    "{ ?s ex:name ?n } }",
    # UNION nested inside GRAPH reads the named graph (evaluator fix)
    "SELECT ?x WHERE { GRAPH <http://example.com/gnames> "
    "{ { ?s ex:name ?x } UNION { ?s ex:nothere ?x } } } ORDER BY ?x",
    # FILTER EXISTS nested inside GRAPH
    "SELECT ?s WHERE { GRAPH <http://example.org/g/1> { "
    "?s a ex:Nation . FILTER EXISTS { ?s ex:name ?n } } } ORDER BY ?s",
    # cross-graph join: named-graph pattern joined with default pattern
    "SELECT ?s ?rn WHERE { GRAPH <http://example.org/g/3> "
    "{ ?s ex:inRegion ?r } ?r ex:name ?rn } ORDER BY ?s",
]


@pytest.mark.parametrize("query", DIFFERENTIAL)
def test_graph_rewrite_matches_full_scan(spark, query):
    got = _rows(_rewritten(spark, GRAPH_KG_MAPPING, query))
    want = _rows(_full_scan_answer(spark, GRAPH_KG_MAPPING, query))
    assert got == want


def test_graph_template_inversion_constrains_scan(spark):
    mapping = MappingDocument.from_text(GRAPH_KG_MAPPING)
    tables = tpch_tables(spark, SF_DIR)
    q = SPARQL_PREFIX + ("SELECT ?s ?n WHERE { GRAPH <http://example.org/g/2>"
                         " { ?s ex:name ?n } }")
    cons = derive_tm_constraints(mapping, q, tables)
    assert cons["#GNation"] == [{"n_regionkey": "2"}]
    assert cons["#GRegion"] == []        # no graph maps: can't serve GRAPH
    plan = answer_auto(spark, mapping, q, tables=tables) \
        ._jdf.queryExecution().executedPlan().toString()
    assert re.search(r"PushedFilters: \[[^\]]*EqualTo\(n_regionkey,2\)",
                     plan)


def test_graph_var_eliminates_graphless_mapping(spark):
    """GRAPH ?g over a mapping with NO graph maps: every TM is provably
    default-graph-only — zero candidate scans, empty result."""
    mapping = MappingDocument.from_text(TPCH_KG_MAPPING)
    tables = tpch_tables(spark, SF_DIR)
    q = SPARQL_PREFIX + "SELECT ?g ?n WHERE { GRAPH ?g { ?s ex:name ?n } }"
    cons = derive_tm_constraints(mapping, q, tables)
    assert all(c == [] for c in cons.values())
    assert answer_auto(spark, mapping, q, tables=tables).count() == 0


def test_default_graph_eliminates_fully_graphed_tm(spark):
    """The nation TM's every triple category lands in named graphs, so a
    default-graph pattern provably never reads it."""
    mapping = MappingDocument.from_text(GRAPH_KG_MAPPING)
    tables = tpch_tables(spark, SF_DIR)
    q = SPARQL_PREFIX + "SELECT ?n WHERE { ?s ex:name ?n }"
    cons = derive_tm_constraints(mapping, q, tables)
    assert cons["#GNation"] == []
    assert cons["#GRegion"] is None      # full scan
    assert answer_auto(spark, mapping, q, tables=tables).count() == 5


ADVERSARIAL_TWO_RENDERS = """
@prefix rr:  <http://www.w3.org/ns/r2rml#> .
@prefix xrr: <http://i3s.unice.fr/xr2rml#> .
@prefix ex:  <http://example.com/> .
<#A> a rr:TriplesMap;
    rr:logicalTable [ rr:tableName "nation" ];
    rr:subjectMap [ rr:template "http://example.org/nation/{n_nationkey}";
                    rr:graphMap [ rr:template "http://example.org/g/{n_regionkey}" ];
                    rr:graphMap [ rr:template "http://example.org/g/{n_nationkey}" ] ];
    rr:predicateObjectMap [ rr:predicate ex:name;
                            rr:objectMap [ rr:column "n_name" ] ].
"""


def test_two_graph_renders_stay_unconstrained_but_correct(spark):
    """Two graph maps can both render <g/2> (regionkey=2 OR nationkey=2):
    no single conjunction is sound, so the deriver must keep the full
    scan — and the answer still matches the full-scan oracle."""
    mapping = MappingDocument.from_text(ADVERSARIAL_TWO_RENDERS)
    tables = tpch_tables(spark, SF_DIR)
    q = SPARQL_PREFIX + ("SELECT ?s ?n WHERE { GRAPH <http://example.org/g/2>"
                         " { ?s ex:name ?n } } ORDER BY ?s")
    cons = derive_tm_constraints(mapping, q, tables)
    assert cons["#A"] is None            # AMBIGUOUS: no constraint
    got = _rows(answer_auto(spark, mapping, q, tables=tables))
    want = _rows(_full_scan_answer(spark, ADVERSARIAL_TWO_RENDERS,
                                   "SELECT ?s ?n WHERE "
                                   "{ GRAPH <http://example.org/g/2> "
                                   "{ ?s ex:name ?n } } ORDER BY ?s"))
    # regionkey=2 (nations 2,7,12,17,22) ∪ nationkey=2 (subsumed)
    assert got == want and len(got) == 5
    # g/7: NO regionkey render (regions are 0-4) — only the nationkey
    # graph map reaches it, and a single-conj pushdown on regionkey
    # would wrongly return empty
    q7 = q.replace("/g/2", "/g/7")
    got7 = _rows(answer_auto(spark, mapping, q7, tables=tables))
    assert got7 == [("<http://example.org/nation/7>", '"NATION_7"')]


def test_path_inside_constant_graph(spark):
    """Property paths under GRAPH <g> traverse the NAMED graph (the
    closure base is the active graph's triple frame, not the default)."""
    spark_df = spark.createDataFrame(
        [("<a>", "<p>", "<b>", "<g>"), ("<b>", "<p>", "<c>", "<g>"),
         ("<c>", "<p>", "<d>", None),          # default graph: not walked
         ("<x>", "<q>", "<y>", "<g>")],
        "subj string, pred string, obj string, graph string")
    eng = SparqlEngine(spark_df)
    out = eng.sql("SELECT ?o WHERE { GRAPH <g> { <a> <p>+ ?o } } "
                  "ORDER BY ?o")
    assert [r["o"] for r in out.collect()] == ["<b>", "<c>"]
    # default graph path sees only the NULL-graph edge
    out2 = eng.sql("SELECT ?o WHERE { <c> <p>+ ?o }")
    assert [r["o"] for r in out2.collect()] == ["<d>"]


def test_path_under_variable_graph_refuses(spark):
    df = spark.createDataFrame([("<a>", "<p>", "<b>", "<g>")],
                               "subj string, pred string, obj string, "
                               "graph string")
    with pytest.raises(NotImplementedError):
        SparqlEngine(df).sql(
            "SELECT ?g ?o WHERE { GRAPH ?g { <a> <p>+ ?o } }").collect()


def test_optional_inside_graph_reads_named_graph(spark):
    """OPTIONAL nested in GRAPH joins within the named graph — a binding
    present only in the default graph must NOT leak in."""
    df = spark.createDataFrame(
        [("<s>", "<p>", "<o1>", "<g>"),
         ("<s>", "<q>", "<bad>", None),       # default graph only
         ("<s>", "<q>", "<good>", "<g>")],
        "subj string, pred string, obj string, graph string")
    eng = SparqlEngine(df)
    out = eng.sql("SELECT ?x WHERE { GRAPH <g> { ?s <p> ?o "
                  "OPTIONAL { ?s <q> ?x } } }")
    assert [r["x"] for r in out.collect()] == ["<good>"]


NULLABLE_GRAPHS_MAPPING = """
@prefix rr:  <http://www.w3.org/ns/r2rml#> .
@prefix ex:  <http://example.com/> .
<#T> a rr:TriplesMap;
    rr:logicalTable [ rr:tableName "t" ];
    rr:subjectMap [ rr:template "http://example.org/x/{id}";
                    rr:class ex:Thing;
                    rr:graphMap [ rr:template "http://example.org/g/{ga}" ];
                    rr:graphMap [ rr:template "http://example.org/h/{gb}" ] ];
    rr:predicateObjectMap [ rr:predicate ex:v;
                            rr:objectMap [ rr:column "val" ];
                            rr:graphMap [ rr:column "gc" ] ];
    rr:predicateObjectMap [ rr:predicate ex:iri;
                            rr:objectMap [ rr:column "gc"; rr:termType rr:IRI ] ].
"""


def test_null_graph_renders_and_column_iri_encoding_parity(spark):
    """Two late-r6 semantics fixes, parity-checked against the Python
    tier: (1) a NULL graph-map render drops that graph from the row's
    target list, falling back to the default graph only when EVERY
    render is null (translate.py quad combination); (2) COLUMN-valued
    IRI term maps get the whole-IRI encodeURI (URL-unsafe chars only),
    NOT the template-group reserved-chars encoder — ':' and '/' must
    survive."""
    from conftest import tier_pool
    from morph_xr2rml_spark.engine import SparkMaterializer
    from morph_xr2rml_spark.model import MappingDocument
    from morph_xr2rml_spark.sources import SourceCatalog
    t = spark.createDataFrame(
        [(1, "A", "p", "q", "http://example.org/c1"),
         (2, "B", None, "r", None),        # ga null: only the h-graph
         (3, "C", None, None, None),       # all null: default graph
         (4, "D (x)", "s", None, "http://example.org/c2?a=1&b; c")],
        "id int, val string, ga string, gb string, gc string")
    mapping = MappingDocument.from_text(NULLABLE_GRAPHS_MAPPING)
    cat = SourceCatalog()
    cat.register_table("t", t)
    want = sorted(tuple(r) for r in
                  SparkMaterializer(spark, mapping, cat).triples()
                  .collect())
    for fuse in (True, False):
        got = sorted(tuple(r) for r in
                     tier_pool(spark, mapping, "native", {"t": t},
                               fused=fuse).collect())
        assert got == want
    # the column IRI keeps ':' '/' and encodes only URL-unsafe chars
    assert ("<http://example.org/x/3>", "<http://example.com/iri>",
            "<http://example.org/c1>") not in [w[:3] for w in want]
    iris = {w[2] for w in want if w[1] == "<http://example.com/iri>"}
    assert "<http://example.org/c1>" in iris
    # URL-unsafe set: '=' ';' ' ' encode, '&' '?' ':' '/' survive
    assert "<http://example.org/c2?a%3D1&b%3B%20c>" in iris


def test_doc_tier_graph_constant_composes_into_find(spark):
    """Document tier: a constant GRAPH against a graph template over a
    doc field composes into the collection's find() filter (the
    constraint key is the doc-level reference, handled by _conj_to_find
    like any template-inversion equality)."""
    import json as _json
    from morph_xr2rml_spark.api import answer_auto
    from morph_xr2rml_spark.sources import SourceCatalog
    M = """
@prefix rr:  <http://www.w3.org/ns/r2rml#> .
@prefix xrr: <http://i3s.unice.fr/xr2rml#> .
@prefix ex:  <http://example.com/> .
<#D> a rr:TriplesMap;
    xrr:logicalSource [ xrr:query "db.docs.find({})" ];
    rr:subjectMap [ rr:template "http://example.org/d/{$.id}";
                    rr:graphMap [ rr:template "http://example.org/g/{$.ga}" ] ];
    rr:predicateObjectMap [ rr:predicate ex:v;
                            rr:objectMap [ xrr:reference "$.val" ] ].
"""
    docs = [_json.dumps({"id": i, "ga": "x" if i % 2 else "y",
                         "val": f"V{i}"}) for i in range(10)]
    cat = SourceCatalog().register_collection(
        "docs", spark.createDataFrame([(d,) for d in docs],
                                      "content string"))
    mapping = MappingDocument.from_text(M)
    q = (SPARQL_PREFIX + "SELECT ?s ?v WHERE "
         "{ GRAPH <http://example.org/g/x> { ?s ex:v ?v } } ORDER BY ?s")
    cons = derive_tm_constraints(mapping, q)
    assert cons["#D"] == [{"$.ga": "x"}]
    out = [tuple(r) for r in answer_auto(spark, mapping, q, catalog=cat)
           .collect()]
    assert len(out) == 5
    assert out[0] == ("<http://example.org/d/1>", '"V1"')
