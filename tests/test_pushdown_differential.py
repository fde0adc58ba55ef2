"""Differential soundness harness for rewrite.py (round 5).

Every query is answered twice over the TPC-H KG mapping:
  (a) through answer_auto — constraint derivation, TM elimination,
      cross-pattern propagation, literal/comparison pushdown;
  (b) over the FULL un-rewritten plan (the unconstrained routed plan +
      SparqlEngine) — no pushdown at all.
The result sets must be identical: the rewriter may only prune source
rows that provably cannot contribute, never change an answer.  The
battery deliberately combines the features that interact (VALUES +
filters, OPTIONAL on pinned vars, UNION branches, paths, MINUS,
unsatisfiable constants).
"""

import pytest

from morph_xr2rml_spark.api import answer_auto
from morph_xr2rml_spark.examples import TPCH_KG_MAPPING, tpch_tables
from morph_xr2rml_spark.model import MappingDocument
from morph_xr2rml_spark.sparql import SparqlEngine

from conftest import tier_pool

SF_DIR = "/root/testdata/sf0.001"
P = "PREFIX ex: <http://example.com/>\n" \
    "PREFIX xsd: <http://www.w3.org/2001/XMLSchema#>\n"

QUERIES = [
    # point subject / object / class
    "SELECT ?p ?o WHERE { <http://example.org/order/3> ?p ?o }",
    "SELECT ?o WHERE { ?o ex:placedBy <http://example.org/customer/7> }",
    "SELECT ?s WHERE { ?s a ex:Nation }",
    # literal equality + comparison
    'SELECT ?c WHERE { ?c ex:segment "AUTOMOBILE" }',
    "SELECT ?o ?p WHERE { ?o ex:totalPrice ?p . FILTER(?p > 250000.0) }",
    "SELECT ?o WHERE { ?o ex:totalPrice ?p . "
    "FILTER(?p >= 50000 && ?p < 60000) }",
    'SELECT ?o WHERE { ?o ex:status "P" }',
    # '!=' never pushes (r6: it was collected but uncompilable — crash);
    # IRI-vs-number '!=' is true in SPARQL, so pushing a value predicate
    # would be unsound anyway
    "SELECT ?o ?p WHERE { ?o ex:totalPrice ?p . FILTER(?p != 200000.0) }",
    "SELECT ?o WHERE { ?o ex:totalPrice ?p . "
    "FILTER(?p > 50000 && ?p != 57288.56) }",
    # cross-pattern propagation
    'SELECT ?c ?n WHERE { ?c ex:segment "HOUSEHOLD" . ?c ex:name ?n }',
    'SELECT ?c ?b WHERE { ?c ex:segment "BUILDING" . '
    "OPTIONAL { ?c ex:acctbal ?b } }",
    # VALUES / OR disjunctions
    "SELECT ?c ?s WHERE { ?c ex:segment ?s . "
    'VALUES ?s { "BUILDING" "FURNITURE" } }',
    "SELECT ?s ?p ?o WHERE { ?s ?p ?o . "
    "FILTER(?s = <http://example.org/nation/3> "
    "|| ?s = <http://example.org/region/1>) }",
    "SELECT ?c ?n WHERE { ?c ex:name ?n . "
    "VALUES ?c { <http://example.org/customer/1> "
    "<http://example.org/customer/2> } }",
    # paths: first hop constrained, closures not
    "SELECT ?n WHERE { <http://example.org/order/5> ex:placedBy/ex:name ?n }",
    "SELECT ?r WHERE { <http://example.org/customer/9> "
    "ex:inNation/ex:inRegion ?r }",
    "SELECT ?x WHERE { <http://example.org/nation/0> ex:inRegion* ?x }",
    # set ops over pinned vars
    'SELECT ?c WHERE { ?c ex:segment "BUILDING" '
    'MINUS { ?c ex:name "Customer#000000013" } }',
    "SELECT ?x WHERE { { ?x a ex:Region } UNION "
    "{ ?x ex:inRegion <http://example.org/region/0> } }",
    # unsatisfiable / empty results must stay empty (not error)
    "SELECT ?p WHERE { <http://example.org/order/999999999> ?p ?o }",
    'SELECT ?c WHERE { ?c ex:segment "NO_SUCH_SEGMENT" }',
    "SELECT ?o WHERE { ?o ex:totalPrice ?p . FILTER(?p > 1e12) }",
    # typed literal object
    'SELECT ?o WHERE { ?o ex:status "F" . ?o ex:totalPrice ?p . '
    "FILTER(?p < 2000.0) }",
    # IN / string-pattern builtins
    'SELECT ?c WHERE { ?c ex:segment ?s . '
    'FILTER(?s IN ("BUILDING", "MACHINERY")) }',
    'SELECT ?c ?n WHERE { ?c ex:name ?n . ?c a ex:Customer . '
    'FILTER STRSTARTS(STR(?n), "Customer#0000001") }',
    'SELECT ?c WHERE { ?c ex:segment ?s . FILTER(CONTAINS(?s, "BUILD")) }',
    'SELECT ?c WHERE { ?c ex:name ?n . FILTER STRENDS(STR(?n), "01") }',
    # regex mandatory-literal extraction (r6): anchored prefix, suffix,
    # substring, metachar-bounded prefix, STR() wrapper, 'i' flag refusal
    'SELECT ?c ?n WHERE { ?c ex:name ?n . ?c a ex:Customer . '
    'FILTER regex(STR(?n), "^Customer#0000001") }',
    'SELECT ?c WHERE { ?c ex:segment ?s . FILTER regex(?s, "ING$") }',
    'SELECT ?c WHERE { ?c ex:segment ?s . FILTER regex(?s, "BUILD") }',
    'SELECT ?c WHERE { ?c ex:segment ?s . FILTER regex(?s, "^BU.LD") }',
    'SELECT ?c WHERE { ?c ex:segment ?s . FILTER regex(?s, "^build", "i") }',
    'SELECT ?c ?n WHERE { ?c ex:segment "HOUSEHOLD" . ?c ex:name ?n . '
    'FILTER regex(STR(?n), "^Customer#00000") }',
    # type facets (r6): per-term-map constants decide TM candidacy
    "SELECT ?s ?o WHERE { ?s ex:placedBy ?o . FILTER(isLiteral(?o)) }",
    "SELECT ?s ?o WHERE { ?s ex:placedBy ?o . FILTER(isIRI(?o)) }",
    "SELECT ?s WHERE { ?s a ex:Nation . FILTER(isLiteral(?s)) }",
    'SELECT ?c ?n WHERE { ?c ex:name ?n . FILTER(LANG(?n) = "en") }',
    'SELECT ?c ?n WHERE { ?c ex:name ?n . FILTER(LANG(?n) = "") }',
    'SELECT ?c ?n WHERE { ?c ex:name ?n . '
    'FILTER langMatches(LANG(?n), "*") }',
    'SELECT ?c ?n WHERE { ?c ex:name ?n . '
    "FILTER(datatype(?n) = xsd:string) }",
    'SELECT ?o ?p WHERE { ?o ex:totalPrice ?p . '
    "FILTER(isLiteral(?p) && ?p > 250000.0) }",
    # isNumeric / sameTerm (r6)
    "SELECT ?s ?o WHERE { ?s ex:placedBy ?o . FILTER(isNumeric(?o)) }",
    'SELECT ?o ?p WHERE { ?o ex:totalPrice ?p . FILTER(isNumeric(?p)) }',
    "SELECT ?p ?o WHERE { ?s ?p ?o . "
    "FILTER sameTerm(?s, <http://example.org/customer/5>) }",
    'SELECT ?c ?n WHERE { ?c ex:name ?n . '
    'FILTER sameTerm(?n, "Customer#000000021") }',
    'SELECT ?c WHERE { ?c ex:segment ?s . FILTER sameTerm("BUILDING", ?s) }',
    # BIND constant propagation (r6): constrains like FILTER(?v = const)
    'SELECT ?c WHERE { BIND("BUILDING" AS ?s) ?c ex:segment ?s }',
    'SELECT ?p ?o WHERE { BIND(<http://example.org/customer/5> AS ?c) '
    "?c ?p ?o }",
    "SELECT ?o WHERE { BIND(200000.0 AS ?p) ?o ex:totalPrice ?p }",
    'SELECT ?c ?n WHERE { BIND("MACHINERY" AS ?s) ?c ex:segment ?s . '
    "?c ex:name ?n }",
    # contradictory BIND + FILTER must agree (OR-variants stay superset)
    'SELECT ?c WHERE { BIND("BUILDING" AS ?s) ?c ex:segment ?s . '
    'FILTER(?s = "FURNITURE") }',
    # computed BIND derives nothing but must not break
    'SELECT ?c ?x WHERE { ?c ex:segment ?s . '
    'BIND(CONCAT(?s, "!") AS ?x) FILTER(?x = "BUILDING!") }',
    # FILTER EXISTS strengthening (r6): a bare top-level EXISTS is a
    # required semi-join; NOT EXISTS / ||-embedded EXISTS never constrain
    'SELECT ?c ?n WHERE { ?c ex:name ?n . ?c a ex:Customer . '
    'FILTER EXISTS { ?c ex:segment "BUILDING" } }',
    'SELECT ?c ?n WHERE { ?c ex:name ?n . ?c a ex:Customer . '
    'FILTER NOT EXISTS { ?c ex:segment "BUILDING" } }',
    'SELECT ?c ?n WHERE { ?c ex:name ?n . ?c a ex:Customer . '
    'FILTER(EXISTS { ?c ex:segment "BUILDING" } '
    '|| STRSTARTS(STR(?n), "Customer#0000001")) }',
    'SELECT ?o WHERE { ?o a ex:Order . '
    "FILTER EXISTS { ?o ex:totalPrice ?p . FILTER(?p > 250000.0) } }",
    # IRI-only DESCRIBE (subject + object position constraints)
    "DESCRIBE <http://example.org/customer/3>",
    "DESCRIBE <http://example.org/region/1>",
    "DESCRIBE <http://example.org/nation/2> <http://example.org/order/4>",
]


@pytest.fixture(scope="module")
def fixture_env(spark):
    mapping = MappingDocument.from_text(TPCH_KG_MAPPING)
    tables = tpch_tables(spark, SF_DIR)
    full = tier_pool(spark, mapping, "native", tables, fused=False,
                     dedup=False)
    engine = SparqlEngine(full, dedup_source=True)
    return mapping, tables, engine


@pytest.mark.parametrize("qi", range(len(QUERIES)))
def test_rewritten_equals_full_scan(spark, fixture_env, qi):
    mapping, tables, engine = fixture_env
    q = P + QUERIES[qi]
    fast = sorted(tuple(r) for r in
                  answer_auto(spark, mapping, q, tables=tables).collect())
    slow = sorted(tuple(r) for r in engine.sql(q).collect())
    assert fast == slow, f"divergence on: {QUERIES[qi]}"


# ---------------------------------------------------------------------------
# Adversarial mapping: every propagation precondition deliberately broken
# — overlapping subject spaces, no declared unique keys, a constant
# subject, rdf:type via an explicit POM, the same predicate from two
# object maps.  The rewriter must refuse to prune and still agree with
# the full scan on every query.
# ---------------------------------------------------------------------------

NASTY_MAPPING = """
@prefix rr:  <http://www.w3.org/ns/r2rml#> .
@prefix rdf: <http://www.w3.org/1999/02/22-rdf-syntax-ns#> .
@prefix ex:  <http://example.com/> .

<#A> a rr:TriplesMap;
    rr:logicalTable [ rr:tableName "nation" ];
    rr:subjectMap [ rr:template "http://example.org/thing/{n_nationkey}" ];
    rr:predicateObjectMap [ rr:predicate ex:label; rr:objectMap [ rr:column "n_name" ] ];
    rr:predicateObjectMap [ rr:predicate rdf:type; rr:objectMap [ rr:constant ex:Thing ] ].

<#B> a rr:TriplesMap;
    rr:logicalTable [ rr:tableName "customer" ];
    rr:subjectMap [ rr:template "http://example.org/thing/{c_nationkey}" ];
    rr:predicateObjectMap [ rr:predicate ex:label; rr:objectMap [ rr:column "c_mktsegment" ] ];
    rr:predicateObjectMap [ rr:predicate ex:label; rr:objectMap [ rr:column "c_name" ] ].

<#C> a rr:TriplesMap;
    rr:logicalTable [ rr:tableName "region" ];
    rr:subjectMap [ rr:constant <http://example.org/thing/fixed> ];
    rr:predicateObjectMap [ rr:predicate ex:label; rr:objectMap [ rr:column "r_name" ] ].
"""

NASTY_QUERIES = [
    "SELECT ?p ?o WHERE { <http://example.org/thing/3> ?p ?o }",
    "SELECT ?s WHERE { ?s a ex:Thing }",
    'SELECT ?s WHERE { ?s ex:label "BUILDING" }',
    'SELECT ?s ?l WHERE { ?s a ex:Thing . ?s ex:label ?l }',
    "SELECT ?p ?o WHERE { <http://example.org/thing/fixed> ?p ?o }",
    'SELECT ?s WHERE { ?s ex:label ?l . FILTER STRSTARTS(STR(?l), "A") }',
    'SELECT ?s WHERE { ?s ex:label ?l . FILTER regex(STR(?l), "^A") }',
    "SELECT ?s ?l WHERE { ?s ex:label ?l . FILTER(isLiteral(?l)) }",
    'SELECT ?s WHERE { BIND("BUILDING" AS ?l) ?s ex:label ?l }',
    "DESCRIBE <http://example.org/thing/0>",
]


@pytest.fixture(scope="module")
def nasty_env(spark):
    mapping = MappingDocument.from_text(NASTY_MAPPING)
    tables = tpch_tables(spark, SF_DIR)
    full = tier_pool(spark, mapping, "native", tables, fused=False,
                     dedup=False)
    return mapping, tables, SparqlEngine(full, dedup_source=True)


@pytest.mark.parametrize("qi", range(len(NASTY_QUERIES)))
def test_nasty_mapping_rewritten_equals_full(spark, nasty_env, qi):
    mapping, tables, engine = nasty_env
    q = P + NASTY_QUERIES[qi]
    fast = sorted(tuple(r) for r in
                  answer_auto(spark, mapping, q, tables=tables).collect())
    slow = sorted(tuple(r) for r in engine.sql(q).collect())
    assert fast == slow, f"divergence on: {NASTY_QUERIES[qi]}"
    assert len(slow) > 0 or qi in ()     # every query has answers here
