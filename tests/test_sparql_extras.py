"""ASK queries, SPARQL result serializers, native $gt/$in filter pushdown."""

import json

import pytest
from fixtures_data import MOVIES_JSON, STUDENTS_JSON, MAPPING1_PATH

from morph_xr2rml_spark.engine import SparkMaterializer
from morph_xr2rml_spark.model import MappingDocument
from morph_xr2rml_spark.sources import SourceCatalog, mongo_filter_to_column
from morph_xr2rml_spark.sparql import (SparqlEngine, to_sparql_csv,
                                       to_sparql_json)

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
    return SparqlEngine(
        SparkMaterializer(spark, mapping, cat).triples().cache())


def test_ask(engine):
    assert engine.ask(PREFIX + "ASK { ?s a ex:Student }") is True
    assert engine.ask(PREFIX + "ASK { ?s a ex:Nothing }") is False


def test_sparql_json_serialization(engine):
    df = engine.sql(PREFIX + """
        SELECT ?s ?a WHERE { ?s ex:activity ?a . FILTER(regex(?a, "^Sw")) }""")
    out = to_sparql_json(df)
    assert out["head"]["vars"] == ["s", "a"]
    (b,) = out["results"]["bindings"]
    assert b["s"]["type"] == "uri"
    assert b["a"] == {"type": "literal", "value": "Swimming", "xml:lang": "en"}


def test_sparql_csv_serialization(engine):
    df = engine.sql(PREFIX +
                    "SELECT ?m WHERE { ?m a ex:Movie } ORDER BY ?m LIMIT 2")
    csv_text = to_sparql_csv(df)
    lines = csv_text.strip().splitlines()
    assert lines[0] == "m"
    assert lines[1].startswith("http://example.org/movies/")


def test_native_gt_in_filters(spark):
    mapping = MappingDocument.from_text("""
    @prefix rr: <http://www.w3.org/ns/r2rml#> .
    @prefix xrr: <http://i3s.unice.fr/xr2rml#> .
    @prefix ex: <http://example.com/> .
    <#T> xrr:logicalSource [ xrr:query "db.d.find({k: {$gt: 5}})" ];
      rr:subjectMap [ rr:template "http://x/{$.k}"; rr:class ex:T ].
    <#U> xrr:logicalSource [ xrr:query "db.d.find({tag: {$in: ['a','b']}})" ];
      rr:subjectMap [ rr:template "http://y/{$.k}"; rr:class ex:U ].
    """)
    # both filters compile to SQL predicates (no Python fallback)
    assert mongo_filter_to_column("{k: {$gt: 5}}", "content") is not None
    assert mongo_filter_to_column("{tag: {$in: ['a','b']}}", "content") is not None

    docs = [json.dumps({"k": k, "tag": t})
            for k, t in [(3, "a"), (5, "b"), (6, "c"), (7, "a")]]
    cat = SourceCatalog().register_collection(
        "d", spark.createDataFrame([(d,) for d in docs], "content string"))
    got = {r.subj for r in
           SparkMaterializer(spark, mapping, cat).triples().collect()}
    assert got == {"<http://x/6>", "<http://x/7>",    # k > 5
                   "<http://y/3>", "<http://y/5>", "<http://y/7>"}  # tag in a,b


def test_values_clause(engine):
    rows = engine.sql(PREFIX + """
        SELECT ?m WHERE {
            ?m a ex:Movie .
            VALUES ?m { <http://example.org/movies/2046>
                        <http://example.org/movies/Manhattan> }
        } ORDER BY ?m""").collect()
    assert [r.m for r in rows] == ["<http://example.org/movies/2046>",
                                   "<http://example.org/movies/Manhattan>"]


def test_values_literal(engine):
    rows = engine.sql(PREFIX + """
        SELECT ?s WHERE {
            ?s ex:name ?n .
            VALUES ?n { "Woody Allen" }
        }""").collect()
    assert [r.s for r in rows] == ["<http://example.org/director/Woody%20Allen>"]


def test_sparql_over_materialized_store_pushes_down(spark, tmp_path):
    """Production pattern: materialize once to parquet, query many times —
    pattern predicates must reach the parquet scan as PushedFilters."""
    from morph_xr2rml_spark.examples import kg_tpch_triples
    path = str(tmp_path / "triples.parquet")
    kg_tpch_triples(spark, "/root/testdata/sf0.001").write.parquet(path)
    store = spark.read.parquet(path)
    eng = SparqlEngine(store)
    df = eng.sql(PREFIX + """
        SELECT ?c ?n WHERE { ?c ex:inNation ?n }""")
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters" in plan
    # the pred equality constraint reaches the scan
    assert "EqualTo(pred,<http://example.com/inNation>)" in plan.replace(" ", "") \
        or "inNation" in plan[plan.find("PushedFilters"):plan.find("PushedFilters") + 400]
    assert df.count() > 0


def test_bind_arithmetic_and_concat(engine):
    rows = engine.sql(PREFIX + """
        SELECT ?s ?double_id ?label WHERE {
            ?s ex:hasId ?v .
            BIND(?v * 2 AS ?double_id)
            BIND(CONCAT("id=", STR(?v)) AS ?label)
        }""").collect()
    assert len(rows) == 1
    assert rows[0].double_id == 26.0
    assert rows[0].label == "id=13"


def test_bind_in_filter_chain(engine):
    rows = engine.sql(PREFIX + """
        SELECT ?s WHERE {
            ?s ex:hasId ?v .
            BIND(?v + 1 AS ?w)
            FILTER(?w > 13.5)
        }""").collect()
    assert len(rows) == 1


# ---------------------------------------------------------------------------
# Postfix VALUES / REDUCED / trailing-input guard (late round 6)
# ---------------------------------------------------------------------------

def test_postfix_values_joins_solutions(spark):
    from morph_xr2rml_spark.sparql import SparqlEngine
    df = spark.createDataFrame(
        [("<a>", "<p>", '"a"', None), ("<b>", "<p>", '"b"', None),
         ("<c>", "<p>", '"c"', None)],
        "subj string, pred string, obj string, graph string")
    eng = SparqlEngine(df)
    out = eng.sql('SELECT ?s ?x WHERE { ?s <p> ?x } '
                  'VALUES ?x { "a" "b" }')
    assert sorted(tuple(r) for r in out.collect()) == \
        [("<a>", '"a"'), ("<b>", '"b"')]
    # multi-var postfix form with an UNDEF wildcard
    out2 = eng.sql('SELECT * WHERE { ?s <p> ?x } '
                   'VALUES (?s ?x) { (<a> "a") (<c> UNDEF) }')
    assert sorted(tuple(r) for r in out2.collect()) == \
        [("<a>", '"a"'), ("<c>", '"c"')]


def test_reduced_eliminates_duplicates(spark):
    from morph_xr2rml_spark.sparql import SparqlEngine
    df = spark.createDataFrame(
        [("<a>", "<p>", '"x"', None), ("<b>", "<p>", '"x"', None)],
        "subj string, pred string, obj string, graph string")
    out = SparqlEngine(df).sql("SELECT REDUCED ?o WHERE { ?s <p> ?o }")
    assert [tuple(r) for r in out.collect()] == [('"x"',)]


def test_trailing_input_is_a_parse_error():
    import pytest as _pytest
    from morph_xr2rml_spark.sparql import parse_sparql
    with _pytest.raises(ValueError, match="trailing"):
        parse_sparql("SELECT ?x WHERE { ?s <p> ?x } NONSENSE")


# ---------------------------------------------------------------------------
# Aggregates over expressions + GROUP BY expressions (late round 6)
# ---------------------------------------------------------------------------

@pytest.fixture()
def _agg_expr_df(spark):
    rows = []
    xsd_int = "^^<http://www.w3.org/2001/XMLSchema#integer>"
    for i in range(6):
        rows.append((f"<s{i}>", "<p>", f'"{i + 1}"{xsd_int}', None))
        rows.append((f"<s{i}>", "<q>", f'"{(i % 2) + 1}"{xsd_int}', None))
        rows.append((f"<s{i}>", "<k>", f'"G{i % 2}"', None))
    return spark.createDataFrame(
        rows, "subj string, pred string, obj string, graph string")


def test_aggregate_over_expression(_agg_expr_df):
    from morph_xr2rml_spark.sparql import SparqlEngine
    out = SparqlEngine(_agg_expr_df).sql(
        "SELECT ?k (SUM(?p * ?q) AS ?t) WHERE "
        "{ ?s <p> ?p ; <q> ?q ; <k> ?k } GROUP BY ?k ORDER BY ?k")
    assert [tuple(r) for r in out.collect()] == \
        [('"G0"', 9.0), ('"G1"', 24.0)]


def test_group_by_expression_with_alias(_agg_expr_df):
    from morph_xr2rml_spark.sparql import SparqlEngine
    out = SparqlEngine(_agg_expr_df).sql(
        "SELECT ?g (COUNT(*) AS ?n) WHERE { ?s <k> ?k } "
        "GROUP BY (STR(?k) AS ?g) ORDER BY ?g")
    assert [tuple(r) for r in out.collect()] == [("G0", 3), ("G1", 3)]


def test_bare_builtin_group_condition_not_projected(_agg_expr_df):
    from morph_xr2rml_spark.sparql import SparqlEngine
    out = SparqlEngine(_agg_expr_df).sql(
        "SELECT (COUNT(*) AS ?n) WHERE { ?s <k> ?k } GROUP BY STR(?k)")
    assert out.columns == ["n"]
    assert sorted(r["n"] for r in out.collect()) == [3, 3]


def test_having_over_expression_aggregate(_agg_expr_df):
    from morph_xr2rml_spark.sparql import SparqlEngine
    out = SparqlEngine(_agg_expr_df).sql(
        "SELECT ?k WHERE { ?s <p> ?p ; <q> ?q ; <k> ?k } "
        "GROUP BY ?k HAVING (SUM(?p * ?q) > 10)")
    assert [r["k"] for r in out.collect()] == ['"G1"']


def test_aggpush_refuses_expression_inputs(spark):
    # an expression aggregate input is not a known term column: the
    # fast path must refuse (evaluator answers, and answers correctly)
    from morph_xr2rml_spark.aggpush import try_aggregate_pushdown_auto
    from morph_xr2rml_spark.examples import TPCH_KG_MAPPING, tpch_tables
    from morph_xr2rml_spark.model import MappingDocument
    from morph_xr2rml_spark.api import answer_auto
    from morph_xr2rml_spark.sparql import parse_sparql
    mapping = MappingDocument.from_text(TPCH_KG_MAPPING)
    tables = tpch_tables(spark, "/root/testdata/sf0.001")
    q = ("PREFIX ex: <http://example.com/>\n"
         "SELECT (SUM(?p + ?p) AS ?t) WHERE { ?o ex:totalPrice ?p }")
    assert try_aggregate_pushdown_auto(spark, mapping, parse_sparql(q),
                                       tables=tables) is None
    got = answer_auto(spark, mapping, q, tables=tables).collect()[0]["t"]
    want = answer_auto(
        spark, mapping, "PREFIX ex: <http://example.com/>\n"
        "SELECT (SUM(?p) AS ?t) WHERE { ?o ex:totalPrice ?p }",
        tables=tables).collect()[0]["t"]
    assert abs(got - 2 * want) < 1e-6 * abs(got)


def test_alternative_string_forms_normalize(spark):
    """Single-quoted and long (triple-quoted) SPARQL strings normalize
    to the canonical double-quoted escaped term form at tokenization,
    so they match storage written by the engine."""
    from morph_xr2rml_spark.sparql import SparqlEngine, parse_sparql
    df = spark.createDataFrame(
        [("<a>", "<p>", '"abc"', None),
         ("<b>", "<p>", '"he said \\"hi\\""', None),
         ("<c>", "<p>", '"multi\\nline"', None)],
        "subj string, pred string, obj string, graph string")
    eng = SparqlEngine(df)
    assert [r["s"] for r in
            eng.sql("SELECT ?s WHERE { ?s <p> 'abc' }").collect()] == ["<a>"]
    assert [r["s"] for r in eng.sql(
        "SELECT ?s WHERE { ?s <p> '''he said \"hi\"''' }"
    ).collect()] == ["<b>"]
    assert [r["s"] for r in eng.sql(
        'SELECT ?s WHERE { ?s <p> """multi\nline""" }'
    ).collect()] == ["<c>"]
    # NIL term: the empty collection IRI
    q = parse_sparql("SELECT ?s WHERE { ?s <p> () }")
    assert q.where.patterns[0].o == \
        ("iri", "http://www.w3.org/1999/02/22-rdf-syntax-ns#nil")


def test_construct_describe_solution_modifiers(spark):
    """ORDER BY / LIMIT / OFFSET are grammar-legal on every query form
    (SolutionModifier): CONSTRUCT slices the SOLUTION sequence before
    template instantiation (§16.2), DESCRIBE before resource
    collection."""
    from morph_xr2rml_spark.sparql import SparqlEngine, parse_sparql
    rows = [(f"<s{i}>", "<p>", f'"{chr(97 + i)}"', None) for i in range(6)]
    rows += [(f"<s{i}>", "<q>", f'"x{i}"', None) for i in range(6)]
    df = spark.createDataFrame(
        rows, "subj string, pred string, obj string, graph string")
    eng = SparqlEngine(df)
    out = eng.construct("CONSTRUCT { ?s <made> ?o } WHERE { ?s <p> ?o } "
                        "ORDER BY DESC(?o) LIMIT 2")
    assert sorted(tuple(r) for r in out.collect()) == \
        [("<s4>", "<made>", '"e"'), ("<s5>", "<made>", '"f"')]
    out2 = eng.sql("DESCRIBE ?s WHERE { ?s <p> ?o } ORDER BY ?o LIMIT 1")
    assert sorted(tuple(r) for r in out2.collect()) == \
        [("<s0>", "<p>", '"a"'), ("<s0>", "<q>", '"x0"')]
    assert eng.ask(parse_sparql("ASK { ?s <p> ?o } LIMIT 1"))
