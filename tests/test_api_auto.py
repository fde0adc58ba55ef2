"""materialize_auto routing: native TMs use pure-Column plans, document
TMs the Arrow stage, in one call."""

import json

import pytest
from fixtures_data import STUDENTS, STUDENTS_JSON
from test_correctness_gate import SF_DIR as GATE_SF
from test_examples_oracle import SF_DIR as ORACLE_SF

from morph_xr2rml_spark.api import materialize_auto
from morph_xr2rml_spark.local_engine import materialize_local
from morph_xr2rml_spark.model import MappingDocument
from morph_xr2rml_spark.sources import SourceCatalog

MIXED_MAPPING = """
@prefix rr: <http://www.w3.org/ns/r2rml#> .
@prefix xrr: <http://i3s.unice.fr/xr2rml#> .
@prefix ex: <http://example.com/> .

# tabular TM → native compiler
<#Nations>
    rr:logicalTable [ rr:tableName "nation" ];
    rr:subjectMap [ rr:template "http://example.org/nation/{n_nationkey}"; rr:class ex:Nation ];
    rr:predicateObjectMap [ rr:predicate ex:name; rr:objectMap [ rr:column "n_name" ] ].

# JSON-document TM → document compiler
<#Students>
    xrr:logicalSource [ xrr:query "db.students.find({})" ];
    rr:subjectMap [ rr:template "http://example.org/student/{$._id}"; rr:class ex:Student ];
    rr:predicateObjectMap [ rr:predicate ex:activity;
                            rr:objectMap [ xrr:reference "$.Hobbies.*.hobby" ] ].
"""


def test_auto_routes_and_combines(spark):
    mapping = MappingDocument.from_text(MIXED_MAPPING)
    nation = spark.read.parquet("/root/testdata/sf0.001/nation.parquet")
    cat = SourceCatalog().register_collection(
        "students",
        spark.createDataFrame([(d,) for d in STUDENTS_JSON], "content string"))
    out = materialize_auto(spark, mapping, catalog=cat,
                           tables={"nation": nation})
    rows = out.collect()
    preds = {r.pred for r in rows}
    assert "<http://example.com/name>" in preds      # native side
    assert "<http://example.com/activity>" in preds  # document side
    n_nations = nation.count()
    assert sum(1 for r in rows
               if r.obj == "<http://example.com/Nation>") == n_nations

    # routing check: only one TM qualifies as native
    from morph_xr2rml_spark.native import is_tabular_compilable
    assert is_tabular_compilable(mapping.triples_maps["#Nations"])
    assert not is_tabular_compilable(mapping.triples_maps["#Students"])


def test_auto_document_only_matches_oracle(spark):
    mapping_text = MIXED_MAPPING.split("# JSON-document")[0] + """
<#Students>
    xrr:logicalSource [ xrr:query "db.students.find({})" ];
    rr:subjectMap [ rr:template "http://example.org/student/{$._id}" ];
    rr:predicateObjectMap [ rr:predicate ex:activity;
                            rr:objectMap [ xrr:reference "$.Hobbies.*.hobby" ] ].
"""
    # drop the tabular TM: mapping with only the doc TM
    mapping = MappingDocument.from_text("""
@prefix rr: <http://www.w3.org/ns/r2rml#> .
@prefix xrr: <http://i3s.unice.fr/xr2rml#> .
@prefix ex: <http://example.com/> .
<#Students>
    xrr:logicalSource [ xrr:query "db.students.find({})" ];
    rr:subjectMap [ rr:template "http://example.org/student/{$._id}" ];
    rr:predicateObjectMap [ rr:predicate ex:activity;
                            rr:objectMap [ xrr:reference "$.Hobbies.*.hobby" ] ].
""")
    cat = SourceCatalog().register_collection(
        "students",
        spark.createDataFrame([(d,) for d in STUDENTS_JSON], "content string"))
    got = {tuple(r) for r in materialize_auto(spark, mapping, catalog=cat).collect()}
    want = materialize_local(mapping, {"students": STUDENTS})
    assert got == want


def test_answer_auto_routes_all_tiers(spark):
    """answer_auto: tabular mapping → pushdown path (orders-only scan);
    document mapping → find() composition; mixed → full-plan fallback
    with identical results."""
    import json as _json
    from morph_xr2rml_spark.api import answer_auto
    from morph_xr2rml_spark.examples import (TPCH_KG_MAPPING, tpch_tables)
    from morph_xr2rml_spark.model import MappingDocument
    from morph_xr2rml_spark.sources import SourceCatalog
    P = "PREFIX ex: <http://example.com/>\n"
    sf = "/root/testdata/sf0.001"

    # tabular: native tier (TM skip visible in the plan)
    mapping = MappingDocument.from_text(TPCH_KG_MAPPING)
    df = answer_auto(spark, mapping, P +
                     "SELECT ?p ?o WHERE { <http://example.org/order/1> ?p ?o }",
                     tables=tpch_tables(spark, sf))
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "nation.parquet" not in plan and "region.parquet" not in plan
    assert df.count() == 5

    # document: find() filter ($renderIn composed)
    doc_map = MappingDocument.from_text("""
    @prefix rr:  <http://www.w3.org/ns/r2rml#> .
    @prefix xrr: <http://i3s.unice.fr/xr2rml#> .
    @prefix ex:  <http://example.com/> .
    <#D> a rr:TriplesMap;
        xrr:logicalSource [ xrr:query "db.d.find({})" ];
        rr:subjectMap [ rr:template "http://x/{$.id}" ];
        rr:predicateObjectMap [ rr:predicate ex:v; rr:objectMap [ xrr:reference "$.v" ] ].
    """)
    docs = spark.createDataFrame(
        [( _json.dumps({"id": i, "v": f"x{i}"}),) for i in range(5)],
        "content string")
    cat = SourceCatalog().register_collection("d", docs)
    df = answer_auto(spark, doc_map, P + 'SELECT ?s WHERE { ?s ex:v "x2" }',
                     catalog=cat)
    assert [r.s for r in df.collect()] == ["<http://x/2>"]

    # mixed mapping (one tabular TM + one doc TM) → fallback, correct
    mixed = MappingDocument.from_text("""
    @prefix rr:  <http://www.w3.org/ns/r2rml#> .
    @prefix xrr: <http://i3s.unice.fr/xr2rml#> .
    @prefix ex:  <http://example.com/> .
    <#T> a rr:TriplesMap;
        rr:logicalTable [ rr:tableName "nation" ];
        rr:subjectMap [ rr:template "http://x/n/{n_nationkey}" ];
        rr:predicateObjectMap [ rr:predicate ex:name; rr:objectMap [ rr:column "n_name" ] ].
    <#D> a rr:TriplesMap;
        xrr:logicalSource [ xrr:query "db.d.find({})" ];
        rr:subjectMap [ rr:template "http://x/d/{$.id}" ];
        rr:predicateObjectMap [ rr:predicate ex:v; rr:objectMap [ xrr:reference "$.v" ] ].
    """)
    df = answer_auto(spark, mixed, P + "SELECT ?s ?o WHERE { ?s ex:v ?o }",
                     catalog=cat,
                     tables={"nation": spark.read.parquet(f"{sf}/nation.parquet")})
    assert df.count() == 5


def test_materialize_auto_all_native_eliminates_dedup(spark):
    """All-native mappings route through NativeCompiler.triples so the
    uniqueness proof can skip the dedup exchange."""
    from morph_xr2rml_spark.api import materialize_auto
    from morph_xr2rml_spark.examples import TPCH_KG_MAPPING, tpch_tables
    from morph_xr2rml_spark.model import MappingDocument
    mapping = MappingDocument.from_text(TPCH_KG_MAPPING)
    df = materialize_auto(spark, mapping,
                          tables=tpch_tables(spark, "/root/testdata/sf0.001"))
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Aggregate" not in plan       # dedup exchange eliminated
    assert df.count() == 8335


# ---------------------------------------------------------------------------
# The one router: every TM's tier, for both modes
# ---------------------------------------------------------------------------

ROUTE_SF = ORACLE_SF
EX = "@prefix rr: <http://www.w3.org/ns/r2rml#> .\n" \
     "@prefix xrr: <http://i3s.unice.fr/xr2rml#> .\n" \
     "@prefix ex: <http://example.com/> .\n"

# a document TM whose sampled schema cannot pin $.v (long vs double)
GUARDED_DOC_MAPPING = EX + """
<#T> xrr:logicalSource [ xrr:query "db.docs.find({})" ];
  rr:subjectMap [ rr:template "http://d/{$.id}" ];
  rr:predicateObjectMap [ rr:predicate ex:v;
                          rr:objectMap [ xrr:reference "$.v" ] ].
"""

# a tabular TM joined to a document parent: the ROM keeps both in one
# compiler, so the tabular child leaves the native tier
DOC_PARENT_MAPPING = EX + """
<#Cust> rr:logicalTable [ rr:tableName "customer" ];
  rr:subjectMap [ rr:template "http://example.org/customer/{c_custkey}" ];
  rr:predicateObjectMap [ rr:predicate ex:order; rr:objectMap [
      rr:parentTriplesMap <#Doc>;
      rr:joinCondition [ rr:child "c_custkey"; rr:parent "$.ck" ] ] ].
<#Doc> xrr:logicalSource [ xrr:query "db.orderflat.find({})" ];
  rr:subjectMap [ rr:template "http://example.org/odoc/{$.ok}" ];
  rr:predicateObjectMap [ rr:predicate ex:status;
                          rr:objectMap [ xrr:reference "$.st" ] ].
"""

# a find() filter the SQL compile cannot express: only the Python
# document tier applies it
REGEX_FIND_MAPPING = EX + """
<#T> xrr:logicalSource [ xrr:query "db.docs.find({name: {$regex: '^a'}})" ];
  rr:subjectMap [ rr:template "http://d/{$.id}" ];
  rr:predicateObjectMap [ rr:predicate ex:name;
                          rr:objectMap [ xrr:reference "$.name" ] ].
"""


def _route_case(spark, case: str):
    """(mapping, tables, catalog, expected tiers) for one router case."""
    from morph_xr2rml_spark import examples as ex
    tables = ex.tpch_tables(spark, ROUTE_SF)
    if case == "tpch":
        return (ex.TPCH_KG_MAPPING, tables, SourceCatalog(),
                {"#Region": "native", "#Nation": "native",
                 "#Customer": "native", "#Orders": "native"})
    if case == "orderdocs":
        cat = SourceCatalog().register_collection(
            "orderdocs", ex.orderdocs_df(spark, ROUTE_SF))
        return ex.LINEITEM_JSON_MAPPING, {}, cat, {"#Lines": "json"}
    if case == "mixed":
        return (ex.MIXED_KG_MAPPING, {"customer": tables["customer"]},
                ex.orderflat_catalog(spark, ROUTE_SF),
                {"#MCustomer": "native", "#MOrder": "json"})
    if case == "schema_guard":
        docs = [{"id": 1, "v": 3}, {"id": 2, "v": 3.5}]
        cat = SourceCatalog().register_collection(
            "docs", spark.createDataFrame([(json.dumps(d),) for d in docs],
                                          "content string"))
        return GUARDED_DOC_MAPPING, {}, cat, {"#T": "doc"}
    if case == "regex_find":
        docs = [{"id": 1, "name": "ab"}, {"id": 2, "name": "b"}]
        cat = SourceCatalog().register_collection(
            "docs", spark.createDataFrame([(json.dumps(d),) for d in docs],
                                          "content string"))
        return REGEX_FIND_MAPPING, {}, cat, {"#T": "doc"}
    if case == "doc_parent":
        return (DOC_PARENT_MAPPING, {"customer": tables["customer"]},
                ex.orderflat_catalog(spark, ROUTE_SF),
                {"#Cust": "doc", "#Doc": "json"})
    raise KeyError(case)


@pytest.mark.parametrize("case", ["tpch", "orderdocs", "mixed",
                                  "schema_guard", "doc_parent",
                                  "regex_find"])
def test_router_decisions(spark, case):
    from morph_xr2rml_spark.api import route_tier
    from morph_xr2rml_spark.native_json import JsonNativeCompiler
    text, tables, catalog, want = _route_case(spark, case)
    mapping = MappingDocument.from_text(text)
    jc = JsonNativeCompiler(spark, mapping, catalog)
    got = {n: route_tier(mapping, tm, tables, jc)
           for n, tm in mapping.triples_maps.items()}
    assert got == want


def test_json_native_refuses_an_uncompiled_find(spark):
    """The json-native tier applies only find() filters that compile to
    SQL: handed one that does not, it raises instead of scanning
    unfiltered rows, and the routed plan filters on the Python tier."""
    from morph_xr2rml_spark.native_json import JsonNativeCompiler
    text, _tables, catalog, _want = _route_case(spark, "regex_find")
    mapping = MappingDocument.from_text(text)
    tm = mapping.triples_maps["#T"]
    with pytest.raises(ValueError, match="find"):
        JsonNativeCompiler(spark, mapping, catalog).scan(tm)
    got = {r.subj for r in materialize_auto(spark, mapping, catalog).collect()}
    assert got == {"<http://d/1>"}


def _parquet_tables(df) -> set:
    import re
    plan = df._jdf.queryExecution().executedPlan().toString()
    return {m.group(1) for line in plan.splitlines() if "FileScan" in line
            for m in re.finditer(r"/(\w+)\.parquet", line)}


@pytest.mark.parametrize("query", ["sparql_pushdown_point",
                                   "sparql_pushdown_obj"])
def test_skipped_rom_parents_are_never_read(spark, query):
    """A TM that can match nothing is skipped on every tier, ROM parents
    included: it stays in the mapping as a join parent but emits nothing.
    Keeping ROM parents whole instead would also read nation and region
    for these point queries."""
    from morph_xr2rml_spark import examples as ex
    df = getattr(ex, query)(spark, GATE_SF)
    assert _parquet_tables(df) == {"orders", "customer"}
    assert df.count() > 0


# ---------------------------------------------------------------------------
# The former no-pushdown fallback: a table registered only in the catalog
# runs on the Python document tier next to a native TM
# ---------------------------------------------------------------------------

CATALOG_TABLE_MAPPING = EX + """
<#Cust> rr:logicalTable [ rr:tableName "customer" ];
  rr:subjectMap [ rr:template "http://example.org/customer/{c_custkey}";
                  rr:class ex:Customer ];
  rr:predicateObjectMap [ rr:predicate ex:name;
                          rr:objectMap [ rr:column "c_name" ] ];
  rr:predicateObjectMap [ rr:predicate ex:inNation; rr:objectMap [
      rr:template "http://example.org/nation/{c_nationkey}" ] ].
<#Nat> rr:logicalTable [ rr:tableName "nation" ];
  rr:subjectMap [ rr:template "http://example.org/nation/{n_nationkey}";
                  rr:class ex:Nation ];
  rr:predicateObjectMap [ rr:predicate ex:name;
                          rr:objectMap [ rr:column "n_name" ] ].
"""

FALLBACK_QUERIES = [
    "SELECT ?c ?nn WHERE { ?c ex:inNation ?n . ?n ex:name ?nn . "
    "?c ex:name ?cn . FILTER(?c = <http://example.org/customer/5>) }",
    "SELECT ?s WHERE { ?s a ex:Nation }",
    "ASK { <http://example.org/nation/3> ex:name ?x }",
    "ASK { <http://example.org/nation/999> ex:name ?x }",
    "CONSTRUCT { ?n ex:label ?x } WHERE { ?n a ex:Nation ; ex:name ?x }",
    "DESCRIBE <http://example.org/nation/0>",
]


@pytest.fixture(scope="module")
def fallback_env(spark):
    from morph_xr2rml_spark.api import route_tier
    from morph_xr2rml_spark.examples import tpch_tables
    from morph_xr2rml_spark.native_json import JsonNativeCompiler
    from morph_xr2rml_spark.sparql import SparqlEngine
    mapping = MappingDocument.from_text(CATALOG_TABLE_MAPPING)
    t = tpch_tables(spark, ROUTE_SF)
    tables = {"customer": t["customer"]}
    catalog = SourceCatalog().register_table("nation", t["nation"])
    jc = JsonNativeCompiler(spark, mapping, catalog)
    assert {n: route_tier(mapping, tm, tables, jc)
            for n, tm in mapping.triples_maps.items()} == \
        {"#Cust": "native", "#Nat": "doc"}
    full = materialize_auto(spark, mapping, catalog=catalog, tables=tables,
                            dedup=False)
    return mapping, tables, catalog, SparqlEngine(full, dedup_source=True)


@pytest.mark.parametrize("qi", range(len(FALLBACK_QUERIES)))
def test_catalog_table_answers_equal_full_plan(spark, fallback_env, qi):
    from morph_xr2rml_spark.api import answer_auto
    from morph_xr2rml_spark.rewrite import _eng_answer
    from morph_xr2rml_spark.sparql import parse_sparql
    mapping, tables, catalog, engine = fallback_env
    q = "PREFIX ex: <http://example.com/>\n" + FALLBACK_QUERIES[qi]
    got = sorted(tuple(r) for r in answer_auto(
        spark, mapping, q, catalog=catalog, tables=tables).collect())
    want = sorted(tuple(r) for r in
                  _eng_answer(spark, engine, parse_sparql(q)).collect())
    assert got == want and got


BOOL_MAPPING = """
@prefix rr: <http://www.w3.org/ns/r2rml#> .
@prefix xrr: <http://i3s.unice.fr/xr2rml#> .
@prefix ex: <http://example.com/> .
<#B> rr:logicalTable [ rr:tableName "b"; xrr:uniqueRef "id" ];
  rr:subjectMap [ rr:template "http://example.org/t/{id}" ];
  rr:predicateObjectMap [ rr:predicate ex:f; rr:objectMap [ rr:column "b" ] ].
"""


def test_null_boolean_column_is_no_term(spark):
    """A NULL boolean renders no term (R2RML §11), like every other NULL
    value: materialization, a SELECT and a COUNT all agree with the
    local engine (2 triples, n = 2), on the native tier and through
    aggregate pushdown."""
    from morph_xr2rml_spark.aggpush import try_aggregate_pushdown_auto
    from morph_xr2rml_spark.api import answer_auto
    from morph_xr2rml_spark.sparql import parse_sparql
    mapping = MappingDocument.from_text(BOOL_MAPPING)
    rows = [(1, True), (2, None), (3, False)]
    tables = {"b": spark.createDataFrame(rows, "id int, b boolean")}
    want = materialize_local(mapping, {"b": [{"id": i, "b": b}
                                             for i, b in rows]})
    assert len(want) == 2
    got = {tuple(r) for r in
           materialize_auto(spark, mapping, tables=tables).collect()}
    assert got == want
    P = "PREFIX ex: <http://example.com/>\n"
    sel = answer_auto(spark, mapping, P + "SELECT ?s ?f WHERE { ?s ex:f ?f }",
                      tables=tables)
    assert sorted(tuple(r) for r in sel.collect()) == \
        sorted((s, o) for s, _p, o, _g in want)
    count = P + "SELECT (COUNT(?f) AS ?n) WHERE { ?s ex:f ?f }"
    assert try_aggregate_pushdown_auto(spark, mapping, parse_sparql(count),
                                       tables=tables) is not None
    n = answer_auto(spark, mapping, count, tables=tables).collect()
    assert [str(r.n) for r in n] == ["2"]


def test_numeric_filter_pushdown_keeps_padded_numbers(spark):
    """A comparison FILTER pushed to a string column mirrors numeric
    value of the RENDERED literal, which is trimmed: an NBSP-padded "7"
    is 7 to the evaluator, so the pushed scan filter must keep its row
    (native tier and json-native tier alike)."""
    from morph_xr2rml_spark.api import answer_auto
    P = "PREFIX ex: <http://example.com/>\n"
    q = P + "SELECT ?s WHERE { ?s ex:v ?v FILTER(?v <= 7) }"
    rows = [(1, "\xa07\xa0"), (2, "8"), (3, "x"), (4, " 6 ")]
    tab = MappingDocument.from_text("""
@prefix rr: <http://www.w3.org/ns/r2rml#> .
@prefix ex: <http://example.com/> .
<#V> rr:logicalTable [ rr:tableName "v" ];
  rr:subjectMap [ rr:template "http://example.org/t/{id}" ];
  rr:predicateObjectMap [ rr:predicate ex:v; rr:objectMap [ rr:column "v" ] ].
""")
    tables = {"v": spark.createDataFrame(rows, "id int, v string")}
    got = sorted(r.s for r in answer_auto(spark, tab, q,
                                          tables=tables).collect())
    assert got == ["<http://example.org/t/1>", "<http://example.org/t/4>"]
    doc = MappingDocument.from_text("""
@prefix rr: <http://www.w3.org/ns/r2rml#> .
@prefix xrr: <http://i3s.unice.fr/xr2rml#> .
@prefix ex: <http://example.com/> .
<#V> xrr:logicalSource [ xrr:query "db.v.find({})" ];
  rr:subjectMap [ rr:template "http://example.org/t/{$.id}" ];
  rr:predicateObjectMap [ rr:predicate ex:v;
    rr:objectMap [ xrr:reference "$.v" ] ].
""")
    cat = SourceCatalog().register_collection("v", spark.createDataFrame(
        [(json.dumps({"id": i, "v": v}),) for i, v in rows],
        "content string"))
    got = sorted(r.s for r in answer_auto(spark, doc, q,
                                          catalog=cat).collect())
    assert got == ["<http://example.org/t/1>", "<http://example.org/t/4>"]


def test_aggregate_tier_probe_fails_loudly(spark, monkeypatch):
    """Aggregate pushdown refuses a TM whose source is not registered,
    but a fault inside the router propagates instead of silently
    turning into "no pushdown"."""
    from morph_xr2rml_spark import aggpush
    from morph_xr2rml_spark.sparql import parse_sparql
    P = "PREFIX ex: <http://example.com/>\n"
    q = parse_sparql(P + "SELECT (COUNT(*) AS ?n) WHERE { ?s ex:v ?v }")
    doc = MappingDocument.from_text("""
@prefix rr: <http://www.w3.org/ns/r2rml#> .
@prefix xrr: <http://i3s.unice.fr/xr2rml#> .
@prefix ex: <http://example.com/> .
<#V> xrr:logicalSource [ xrr:query "db.v.find({})" ];
  rr:subjectMap [ rr:template "http://example.org/t/{$.id}" ];
  rr:predicateObjectMap [ rr:predicate ex:v;
    rr:objectMap [ xrr:reference "$.v" ] ].
""")
    assert aggpush.try_aggregate_pushdown_auto(
        spark, doc, q, catalog=SourceCatalog()) is None

    def broken(*_args):
        raise RuntimeError("router fault")

    monkeypatch.setattr(aggpush, "route_tier", broken)
    cat = SourceCatalog().register_collection("v", spark.createDataFrame(
        [(json.dumps({"id": 1, "v": 2}),)], "content string"))
    with pytest.raises(RuntimeError, match="router fault"):
        aggpush.try_aggregate_pushdown_auto(spark, doc, q, catalog=cat)
