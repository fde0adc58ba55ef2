"""SPARQL-over-triple-table engine tests on the students/movies graph."""

import pytest
from fixtures_data import MAPPING1_PATH, MOVIES_JSON, STUDENTS_JSON

from morph_xr2rml_spark.engine import SparkMaterializer
from morph_xr2rml_spark.model import MappingDocument
from morph_xr2rml_spark.sources import SourceCatalog
from morph_xr2rml_spark.sparql import SparqlEngine, parse_sparql

from conftest import requires_reference

pytestmark = requires_reference

PREFIX = "PREFIX ex: <http://example.com/>\n"


@pytest.fixture(scope="module")
def engine(spark):
    mapping = MappingDocument.from_file(MAPPING1_PATH)
    cat = SourceCatalog()
    for name, docs in (("students", STUDENTS_JSON), ("movies", MOVIES_JSON)):
        cat.register_collection(
            name, spark.createDataFrame([(d,) for d in docs], "content string"))
    triples = SparkMaterializer(spark, mapping, cat).triples().cache()
    return SparqlEngine(triples)


def test_parse_basics():
    q = parse_sparql(PREFIX + """
        SELECT DISTINCT ?s ?a WHERE {
            ?s a ex:Student .
            ?s ex:activity ?a .
            FILTER(regex(?a, "ing"))
        } ORDER BY ?a LIMIT 5""")
    assert q.distinct and len(q.where.patterns) == 2
    assert q.limit == 5 and q.order_by == [("a", True)]


def test_bgp_single(engine):
    rows = engine.sql(PREFIX + "SELECT ?s WHERE { ?s a ex:Student }").collect()
    assert len(rows) == 3
    assert all(r.s.startswith("<http://example.org/student/") for r in rows)


def test_bgp_join(engine):
    rows = engine.sql(PREFIX + """
        SELECT ?s ?a WHERE { ?s a ex:Student . ?s ex:activity ?a }""").collect()
    assert len(rows) == 4  # 2 students x 2 activities
    assert all(r.a.endswith('@en') for r in rows)


def test_filter_numeric_and_regex(engine):
    rows = engine.sql(PREFIX + """
        SELECT ?s ?v WHERE { ?s ex:hasId ?v . FILTER(?v > 10) }""").collect()
    assert len(rows) == 1 and rows[0].v.startswith('"13"')
    rows = engine.sql(PREFIX + """
        SELECT ?a WHERE { ?s ex:activity ?a . FILTER(regex(?a, "^Sw")) }
    """).collect()
    assert [r.a for r in rows] == ['"Swimming"@en']


def test_optional(engine):
    rows = engine.sql(PREFIX + """
        SELECT ?s ?a WHERE {
            ?s a ex:Student .
            OPTIONAL { ?s ex:activity ?a }
        }""").collect()
    by_s = {}
    for r in rows:
        by_s.setdefault(r.s, []).append(r.a)
    foo = "<http://example.org/student/547f2a2b31f7a44bec07b221>"
    assert by_s[foo] == [None]  # Foo has no activities but is kept
    assert len(by_s) == 3


def test_union(engine):
    rows = engine.sql(PREFIX + """
        SELECT ?x WHERE {
            { ?s ex:activity ?x } UNION { ?s ex:isActive ?x }
        }""").collect()
    vals = sorted(r.x for r in rows)
    assert '"false"^^<http://www.w3.org/2001/XMLSchema#boolean>' in vals
    assert len(vals) == 5  # 4 activities + 1 isActive


def test_aggregate_group_by(engine):
    rows = engine.sql(PREFIX + """
        SELECT ?s (COUNT(?a) AS ?n) WHERE { ?s ex:activity ?a }
        GROUP BY ?s ORDER BY ?s""").collect()
    assert [r.n for r in rows] == [2, 2]


def test_count_star_and_limit(engine):
    rows = engine.sql(PREFIX + """
        SELECT (COUNT(*) AS ?n) WHERE { ?s a ex:Movie }""").collect()
    assert rows[0].n == 5
    rows = engine.sql(PREFIX + """
        SELECT ?m WHERE { ?m a ex:Movie } ORDER BY ?m LIMIT 2 OFFSET 1
    """).collect()
    assert len(rows) == 2


def test_filter_bound_isiri(engine):
    rows = engine.sql(PREFIX + """
        SELECT ?s WHERE {
            ?s a ex:Student .
            OPTIONAL { ?s ex:activity ?a }
            FILTER(!bound(?a))
        }""").collect()
    assert len(rows) == 1  # only Foo
