"""FROM / FROM NAMED dataset clauses (SPARQL 1.1 §13.2): the clauses
REPLACE the storage dataset — the query's default graph is the merge of
the FROM graphs, the named graphs are exactly the FROM NAMED ones.
Beyond-reference breadth (the reference evaluates over a single Jena
default model and has no dataset construction); semantics follow the
spec directly.  Pushdown: derive_tm_constraints rescopes each pattern's
graph context, so dataset clauses prune TM scans like GRAPH does."""

import pytest

from morph_xr2rml_spark.api import answer_auto
from morph_xr2rml_spark.examples import (GRAPH_KG_MAPPING, SPARQL_PREFIX,
                                         tpch_tables)
from morph_xr2rml_spark.model import MappingDocument
from morph_xr2rml_spark.rewrite import derive_tm_constraints
from morph_xr2rml_spark.sparql import SparqlEngine, parse_sparql

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def eng(spark):
    df = spark.createDataFrame(
        [("<a>", "<p>", "<x>", "<g1>"),
         ("<a>", "<p>", "<y>", "<g2>"),
         ("<a>", "<p>", "<x>", "<g2>"),      # duplicate across graphs
         ("<a>", "<p>", "<z>", None),        # storage default graph
         ("<b>", "<q>", "<w>", "<g3>")],
        "subj string, pred string, obj string, graph string")
    return SparqlEngine(df)


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def test_from_merges_graphs_with_set_semantics(eng):
    # <x> lives in g1 AND g2: the merge is a SET (one row), and the
    # storage default graph's <z> is excluded
    assert _rows(eng.sql("SELECT ?o FROM <g1> FROM <g2> "
                         "WHERE { <a> <p> ?o }")) == [("<x>",), ("<y>",)]


def test_from_only_empties_named_graphs(eng):
    assert eng.sql("SELECT ?g ?o FROM <g1> "
                   "WHERE { GRAPH ?g { ?s ?p ?o } }").count() == 0


def test_from_named_only_empties_default_graph(eng):
    assert eng.sql("SELECT ?o FROM NAMED <g1> "
                   "WHERE { <a> <p> ?o }").count() == 0


def test_graph_restricted_to_from_named(eng):
    assert _rows(eng.sql("SELECT ?o FROM NAMED <g1> WHERE "
                         "{ GRAPH <g1> { <a> <p> ?o } }")) == [("<x>",)]
    assert eng.sql("SELECT ?o FROM NAMED <g1> WHERE "
                   "{ GRAPH <g2> { <a> <p> ?o } }").count() == 0


def test_graph_var_binds_only_from_named(eng):
    out = eng.sql("SELECT ?g FROM NAMED <g1> FROM NAMED <g3> "
                  "WHERE { GRAPH ?g { ?s ?p ?o } } ORDER BY ?g")
    assert [r["g"] for r in out.collect()] == ["<g1>", "<g3>"]


def test_no_clauses_keeps_storage_dataset(eng):
    assert _rows(eng.sql("SELECT ?o WHERE { <a> <p> ?o }")) == [("<z>",)]


def test_ask_and_construct_with_dataset(eng):
    assert eng.ask(parse_sparql("ASK FROM <g3> { ?s <q> ?o }"))
    assert not eng.ask(parse_sparql("ASK FROM <g1> { ?s <q> ?o }"))
    got = _rows(eng.construct("CONSTRUCT { ?s <made> ?o } FROM <g2> "
                              "WHERE { ?s <p> ?o }"))
    assert got == [("<a>", "<made>", "<x>"), ("<a>", "<made>", "<y>")]


def test_describe_with_dataset(eng):
    got = _rows(eng.sql("DESCRIBE <a> FROM <g1>"))
    assert got == [("<a>", "<p>", "<x>")]


# ---------------------------------------------------------------------------
# Pushdown interplay over an R2RML mapping with graph maps
# ---------------------------------------------------------------------------

def test_from_clause_inverts_graph_template(spark):
    mapping = MappingDocument.from_text(GRAPH_KG_MAPPING)
    tables = tpch_tables(spark, SF_DIR)
    q = SPARQL_PREFIX + ("SELECT ?n FROM <http://example.org/g/2> "
                         "WHERE { ?s ex:name ?n } ORDER BY ?n")
    cons = derive_tm_constraints(mapping, q, tables)
    assert cons["#GNation"] == [{"n_regionkey": "2"}]
    assert cons["#GRegion"] == []
    out = [r["n"] for r in answer_auto(spark, mapping, q, tables=tables)
           .collect()]
    assert out == ['"NATION_12"', '"NATION_17"', '"NATION_2"',
                   '"NATION_22"', '"NATION_7"']


def test_from_named_only_eliminates_default_patterns(spark):
    mapping = MappingDocument.from_text(GRAPH_KG_MAPPING)
    tables = tpch_tables(spark, SF_DIR)
    q = SPARQL_PREFIX + ("SELECT ?n FROM NAMED <http://example.com/gnames> "
                         "WHERE { ?s ex:name ?n }")
    cons = derive_tm_constraints(mapping, q, tables)
    assert all(c == [] for c in cons.values())
    assert answer_auto(spark, mapping, q, tables=tables).count() == 0


def test_graph_outside_from_named_eliminated(spark):
    mapping = MappingDocument.from_text(GRAPH_KG_MAPPING)
    tables = tpch_tables(spark, SF_DIR)
    q = SPARQL_PREFIX + (
        "SELECT ?n FROM NAMED <http://example.com/gnames> WHERE "
        "{ GRAPH <http://example.org/g/2> { ?s ex:name ?n } }")
    assert answer_auto(spark, mapping, q, tables=tables).count() == 0


def test_dataset_query_matches_full_evaluator(spark):
    """Differential: the constrained answer equals evaluation over the
    unconstrained materialized pool."""
    from conftest import tier_pool
    mapping = MappingDocument.from_text(GRAPH_KG_MAPPING)
    tables = tpch_tables(spark, SF_DIR)
    pool = tier_pool(spark, mapping, "native", tables, fused=False)
    for q in [
        "SELECT ?n FROM <http://example.org/g/2> "
        "WHERE { ?s ex:name ?n } ORDER BY ?n",
        "SELECT ?g ?n FROM NAMED <http://example.com/gnames> "
        "WHERE { GRAPH ?g { ?s ex:name ?n } } ORDER BY ?n",
        "SELECT ?n FROM <http://example.com/gnames> "
        "FROM <http://example.org/g/0> WHERE { ?s ex:name ?n } "
        "ORDER BY ?n",
    ]:
        got = _rows(answer_auto(spark, mapping, SPARQL_PREFIX + q,
                                tables=tables))
        want = _rows(SparqlEngine(pool).sql(SPARQL_PREFIX + q))
        assert got == want


def test_aggregate_fast_path_refuses_dataset_clauses(spark):
    from morph_xr2rml_spark.aggpush import try_aggregate_pushdown_auto
    mapping = MappingDocument.from_text(GRAPH_KG_MAPPING)
    tables = tpch_tables(spark, SF_DIR)
    q = parse_sparql(SPARQL_PREFIX + (
        "SELECT ?n (COUNT(*) AS ?k) FROM <http://example.org/g/2> "
        "WHERE { ?s ex:name ?n } GROUP BY ?n"))
    assert try_aggregate_pushdown_auto(spark, mapping, q,
                                       tables=tables) is None
