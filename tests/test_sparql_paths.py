"""SPARQL property paths over a TAXREF-like hierarchy: sequence paths,
transitive closure (p+), reflexive-transitive (p*)."""

import json

import pytest

from morph_xr2rml_spark.engine import SparkMaterializer
from morph_xr2rml_spark.model import MappingDocument
from morph_xr2rml_spark.sources import SourceCatalog
from morph_xr2rml_spark.sparql import SparqlEngine

PREFIX = "PREFIX ex: <http://example.com/>\n"

MAPPING = """
@prefix rr: <http://www.w3.org/ns/r2rml#> .
@prefix xrr: <http://i3s.unice.fr/xr2rml#> .
@prefix ex: <http://example.com/> .
<#Taxa>
    xrr:logicalSource [ xrr:query "db.taxa.find({})" ];
    rr:subjectMap [ rr:template "http://t/{$.code}"; rr:class ex:Taxon ];
    rr:predicateObjectMap [ rr:predicate ex:name; rr:objectMap [ xrr:reference "$.name" ] ];
    rr:predicateObjectMap [ rr:predicate ex:parent;
      rr:objectMap [ rr:parentTriplesMap <#Taxa>;
                     rr:joinCondition [ rr:child "$.parent"; rr:parent "$.code" ] ] ].
"""

# 3-level tree: KD ← PH0/PH1 ← CL00..CL11
DOCS = [{"code": "KD", "name": "Kingdom"},
        {"code": "PH0", "parent": "KD", "name": "Phylum 0"},
        {"code": "PH1", "parent": "KD", "name": "Phylum 1"},
        {"code": "CL00", "parent": "PH0", "name": "Class 0.0"},
        {"code": "CL01", "parent": "PH0", "name": "Class 0.1"},
        {"code": "CL10", "parent": "PH1", "name": "Class 1.0"}]


@pytest.fixture(scope="module")
def engine(spark):
    mapping = MappingDocument.from_text(MAPPING)
    cat = SourceCatalog().register_collection(
        "taxa", spark.createDataFrame([(json.dumps(d),) for d in DOCS],
                                      "content string"))
    return SparqlEngine(
        SparkMaterializer(spark, mapping, cat).triples().cache())


def test_sequence_path(engine):
    # grandparent name via parent/parent... here parent/name: class → its
    # phylum's name
    rows = engine.sql(PREFIX + """
        SELECT ?c ?pn WHERE { ?c ex:parent/ex:name ?pn }
    """).collect()
    by_c = {r.c: r.pn for r in rows}
    assert by_c["<http://t/CL00>"] == '"Phylum 0"'
    assert by_c["<http://t/PH1>"] == '"Kingdom"'


def test_transitive_plus(engine):
    rows = engine.sql(PREFIX + """
        SELECT ?a ?anc WHERE { ?a ex:parent+ ?anc }
    """).collect()
    pairs = {(r.a, r.anc) for r in rows}
    # one hop and two hops both present
    assert ("<http://t/CL00>", "<http://t/PH0>") in pairs
    assert ("<http://t/CL00>", "<http://t/KD>") in pairs
    assert ("<http://t/PH0>", "<http://t/KD>") in pairs
    # no self pairs, no downward edges
    assert not any(a == b for (a, b) in pairs)
    # total: 5 one-hop + 3 two-hop
    assert len(pairs) == 8


def test_star_includes_identity(engine):
    rows = engine.sql(PREFIX + """
        SELECT ?anc WHERE { <http://t/CL00> ex:parent* ?anc }
    """).collect()
    ancs = {r.anc for r in rows}
    assert ancs == {"<http://t/CL00>", "<http://t/PH0>", "<http://t/KD>"}


def test_path_join_with_pattern(engine):
    # all taxa whose (transitive) ancestor is the kingdom AND have a name
    rows = engine.sql(PREFIX + """
        SELECT ?a ?n WHERE {
            ?a ex:parent+ <http://t/KD> .
            ?a ex:name ?n .
        }""").collect()
    assert len(rows) == 5  # everything but KD itself


def test_inverse_path(engine):
    # children of the kingdom via ^parent
    rows = engine.sql(PREFIX + """
        SELECT ?child WHERE { <http://t/KD> ^ex:parent ?child }
    """).collect()
    assert {r.child for r in rows} == {"<http://t/PH0>", "<http://t/PH1>"}


def test_inverse_transitive(engine):
    # all descendants of the kingdom
    rows = engine.sql(PREFIX + """
        SELECT ?d WHERE { <http://t/KD> ^ex:parent+ ?d }
    """).collect()
    assert len(rows) == 5


GRAPH_MAPPING = """
@prefix rr: <http://www.w3.org/ns/r2rml#> .
@prefix xrr: <http://i3s.unice.fr/xr2rml#> .
@prefix ex: <http://example.com/> .
<#T> xrr:logicalSource [ xrr:query "db.d.find({})" ];
  rr:subjectMap [ rr:template "http://x/{$.k}" ];
  rr:predicateObjectMap [
      rr:predicate ex:p;
      rr:objectMap [ xrr:reference "$.v" ];
      rr:graphMap [ rr:template "http://graphs/{$.part}" ];
  ];
  rr:predicateObjectMap [
      rr:predicate ex:q;
      rr:objectMap [ xrr:reference "$.v" ];
  ].
"""


@pytest.fixture(scope="module")
def graph_engine(spark):
    mapping = MappingDocument.from_text(GRAPH_MAPPING)
    docs = [{"k": 1, "v": "a", "part": "p0"}, {"k": 2, "v": "b", "part": "p1"}]
    cat = SourceCatalog().register_collection(
        "d", spark.createDataFrame([(json.dumps(d),) for d in docs],
                                   "content string"))
    return SparqlEngine(
        SparkMaterializer(spark, mapping, cat).triples().cache())


def test_graph_variable(graph_engine):
    rows = graph_engine.sql(PREFIX + """
        SELECT ?g ?s WHERE { GRAPH ?g { ?s ex:p ?v } } ORDER BY ?g
    """).collect()
    assert [(r.g, r.s) for r in rows] == [
        ("<http://graphs/p0>", "<http://x/1>"),
        ("<http://graphs/p1>", "<http://x/2>")]


def test_graph_constant(graph_engine):
    rows = graph_engine.sql(PREFIX + """
        SELECT ?s WHERE { GRAPH <http://graphs/p0> { ?s ex:p ?v } }
    """).collect()
    assert [r.s for r in rows] == ["<http://x/1>"]


def test_default_graph_excludes_named(graph_engine):
    # ex:p triples live only in named graphs; ex:q in the default graph
    assert graph_engine.sql(
        PREFIX + "SELECT ?s WHERE { ?s ex:p ?v }").count() == 0
    assert graph_engine.sql(
        PREFIX + "SELECT ?s WHERE { ?s ex:q ?v }").count() == 2


def test_construct(engine):
    out = engine.construct(PREFIX + """
        CONSTRUCT { ?a ex:ancestor ?anc . ?anc ex:descendant ?a }
        WHERE { ?a ex:parent+ ?anc }""")
    rows = {(r.subj, r.pred, r.obj) for r in out.collect()}
    assert ("<http://t/CL00>", "<http://example.com/ancestor>",
            "<http://t/KD>") in rows
    assert ("<http://t/KD>", "<http://example.com/descendant>",
            "<http://t/CL00>") in rows
    assert len(rows) == 16  # 8 closure pairs x 2 template triples
    # the constructed graph is itself queryable
    e2 = SparqlEngine(out)
    n = e2.sql(PREFIX + "SELECT ?x WHERE { ?x ex:ancestor <http://t/KD> }").count()
    assert n == 5
