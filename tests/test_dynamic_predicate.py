"""Triples maps with a non-constant predicate map.

A predicate map rendered from the data (``rr:template`` on a table,
``xrr:reference`` on documents) makes the TM's predicate set unknowable:
answering mode must leave such a TM unconstrained under every constant
and filter, fuse it for a variable-predicate pattern, keep it out of
aggregate pushdown, and still answer exactly.  Here the dynamic
predicate can render ``ex:name`` itself (``attr = "name"``), so a
constraint derived from the constant ``ex:name`` POM alone would drop
answers."""

import json

import pytest

from morph_xr2rml_spark.aggpush import try_aggregate_pushdown_auto
from morph_xr2rml_spark.api import answer_auto, materialize_auto
from morph_xr2rml_spark.engine import TRIPLE_SCHEMA
from morph_xr2rml_spark.local_engine import materialize_local
from morph_xr2rml_spark.model import MappingDocument
from morph_xr2rml_spark.rewrite import derive_tm_plan, tm_pred_iris
from morph_xr2rml_spark.sources import SourceCatalog
from morph_xr2rml_spark.sparql import SparqlEngine, parse_sparql

PREFIX = "PREFIX ex: <http://ex/p/>\n"

TABLE_MAPPING = """
@prefix rr: <http://www.w3.org/ns/r2rml#> .
@prefix ex: <http://ex/p/> .
<#A> rr:logicalTable [ rr:tableName "a" ];
    rr:subjectMap [ rr:template "http://ex/a/{id}" ];
    rr:predicateObjectMap [
        rr:predicateMap [ rr:template "http://ex/p/{attr}" ];
        rr:objectMap [ rr:column "val" ] ];
    rr:predicateObjectMap [ rr:predicate ex:name;
                            rr:objectMap [ rr:column "n" ] ].
<#B> rr:logicalTable [ rr:tableName "b" ];
    rr:subjectMap [ rr:template "http://ex/b/{id}" ];
    rr:predicateObjectMap [ rr:predicate ex:name;
                            rr:objectMap [ rr:column "n" ] ];
    rr:predicateObjectMap [ rr:predicate ex:ref;
                            rr:objectMap [ rr:template "http://ex/a/{ref}" ] ].
"""

DOC_MAPPING = """
@prefix rr: <http://www.w3.org/ns/r2rml#> .
@prefix xrr: <http://i3s.unice.fr/xr2rml#> .
@prefix ex: <http://ex/p/> .
<#D> xrr:logicalSource [ xrr:query "db.things.find({})" ];
    rr:subjectMap [ rr:template "http://ex/d/{$.id}" ];
    rr:predicateObjectMap [
        rr:predicateMap [ xrr:reference "$.p" ];
        rr:objectMap [ xrr:reference "$.v" ] ];
    rr:predicateObjectMap [ rr:predicate ex:name;
                            rr:objectMap [ xrr:reference "$.n" ] ].
"""

A_ROWS = [(1, "name", "x", "y"), (2, "size", "7", "x"), (3, "color", "red", "z")]
B_ROWS = [(1, "x", 2), (2, "w", 1)]
DOCS = [{"id": 1, "p": "http://ex/p/name", "v": "x", "n": "y"},
        {"id": 2, "p": "http://ex/p/size", "v": 7, "n": "x"},
        {"id": 3, "p": "http://ex/p/color", "v": "red", "n": "z"}]

# one query per constant / filter form that constrains a constant-
# predicate TM
CONSTRAINING = {
    "iri": "SELECT ?s WHERE { ?s ex:ref <http://ex/a/2> }",
    "literal": 'SELECT ?s WHERE { ?s ex:name "x" }',
    "numeric": "SELECT ?s ?v WHERE { ?s ex:size ?v FILTER(?v > 3) }",
    "strstarts": 'SELECT ?s ?v WHERE { ?s ex:name ?v '
                 'FILTER(STRSTARTS(?v, "x")) }',
    "lang": 'SELECT ?s ?v WHERE { ?s ex:name ?v FILTER(LANG(?v) = "en") }',
}
POINT = {"table": "SELECT ?p ?o WHERE { <http://ex/a/1> ?p ?o }",
         "doc": "SELECT ?p ?o WHERE { <http://ex/d/1> ?p ?o }"}
COUNT = "SELECT (COUNT(*) AS ?n) WHERE { ?s ex:name ?v }"


@pytest.fixture(scope="module")
def table_case(spark):
    tables = {
        "a": spark.createDataFrame(A_ROWS, "id int, attr string, val string,"
                                          " n string"),
        "b": spark.createDataFrame(B_ROWS, "id int, n string, ref int")}
    local = {"a": [dict(zip(("id", "attr", "val", "n"), r)) for r in A_ROWS],
             "b": [dict(zip(("id", "n", "ref"), r)) for r in B_ROWS]}
    return (MappingDocument.from_text(TABLE_MAPPING),
            {"tables": tables}, local)


@pytest.fixture(scope="module")
def doc_case(spark):
    docs = [json.dumps(d) for d in DOCS]
    cat = SourceCatalog().register_collection(
        "things", spark.createDataFrame([(d,) for d in docs],
                                        "content string"))
    return (MappingDocument.from_text(DOC_MAPPING), {"catalog": cat},
            {"things": docs})


def test_table_dynamic_tm_stays_unconstrained(table_case):
    mapping, _src, _local = table_case
    assert tm_pred_iris(mapping.triples_maps["#A"]) is None
    want_b = {"iri": [{"ref": "2"}],
              "literal": [{"n": ("lexeq", "x")}],
              "numeric": [],
              "strstarts": [{"n": ("lexpat", "strstarts", "x")}],
              "lang": []}
    for kind, q in CONSTRAINING.items():
        constraints, _fused = derive_tm_plan(mapping, PREFIX + q)
        assert constraints == {"#A": None, "#B": want_b[kind]}, kind


def test_doc_dynamic_tm_stays_unconstrained(doc_case):
    mapping, _src, _local = doc_case
    assert tm_pred_iris(mapping.triples_maps["#D"]) is None
    for kind, q in CONSTRAINING.items():
        constraints, _fused = derive_tm_plan(mapping, PREFIX + q)
        assert constraints == {"#D": None}, kind


def test_variable_predicate_fuses_the_dynamic_tm(table_case, doc_case):
    constraints, fused = derive_tm_plan(table_case[0], POINT["table"])
    assert constraints == {"#A": [{"id": "1"}], "#B": []}
    assert set(fused) == {"#A"}
    constraints, fused = derive_tm_plan(doc_case[0], POINT["doc"])
    assert constraints == {"#D": [{"$.id": "1"}]}
    assert set(fused) == {"#D"}


@pytest.mark.parametrize("case", ["table_case", "doc_case"])
def test_aggregate_pushdown_refuses(spark, case, request):
    mapping, src, _local = request.getfixturevalue(case)
    assert try_aggregate_pushdown_auto(
        spark, mapping, parse_sparql(PREFIX + COUNT), **src) is None


@pytest.mark.parametrize("case", ["table_case", "doc_case"])
def test_answers_equal_the_local_engine(spark, case, request):
    mapping, src, local = request.getfixturevalue(case)
    want = materialize_local(mapping, local)
    got = {tuple(r) for r in materialize_auto(spark, mapping, **src)
           .collect()}
    assert got == want
    oracle = SparqlEngine(spark.createDataFrame(sorted(want), TRIPLE_SCHEMA))
    for q in [*CONSTRAINING.values(), *POINT.values(), COUNT]:
        got = sorted(map(tuple, answer_auto(spark, mapping, PREFIX + q,
                                            **src).collect()))
        exp = sorted(map(tuple, oracle.sql(parse_sparql(PREFIX + q))
                         .collect()))
        assert got == exp, q
        if q == CONSTRAINING["literal"]:
            # the row whose dynamic predicate renders ex:name "x"
            dynamic = "a" if case == "table_case" else "d"
            assert (f"<http://ex/{dynamic}/1>",) in got
