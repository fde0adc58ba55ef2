"""Source-pushdown SPARQL answering (rewrite.py) — the cheap analogue of
the reference's query-rewriting mode (genCond,
MorphBaseQueryTranslator.scala:227-305, JsonPathToMongoTranslator R0-R9).

Covers: template inversion incl. ambiguity rejection, per-TM constraint
derivation (elimination + filters), answer parity vs the unrestricted
engine, and the PLAN AUDIT: parquet PushedFilters on the constrained
scan and complete absence of eliminated TMs' sources.
"""

import pytest

from morph_xr2rml_spark.api import answer_auto
from morph_xr2rml_spark.examples import (LINEITEM_JSON_MAPPING,
                                         TPCH_KG_MAPPING, orderdocs_df,
                                         tpch_tables)
from morph_xr2rml_spark.model import MappingDocument, parse_mongo_query
from morph_xr2rml_spark.rewrite import (AMBIGUOUS, constrained_plan,
                                        derive_tm_constraints,
                                        invert_template)
from morph_xr2rml_spark.sources import SourceCatalog, mongo_filter_sql

SF_DIR = "/root/testdata/sf0.001"
PREFIX = "PREFIX ex: <http://example.com/> "


# -- template inversion -----------------------------------------------------

def test_invert_single_group():
    assert invert_template("http://ex/order/{k}", "http://ex/order/42") \
        == {"k": "42"}
    assert invert_template("http://ex/order/{k}", "http://ex/customer/1") \
        is None


def test_invert_multi_group():
    assert invert_template("http://ex/line/{a}-{b}", "http://ex/line/7-1") \
        == {"a": "7", "b": "1"}


def test_invert_ambiguous_separator_in_value():
    # '1-2-3' admits two parses for {a}-{b}: must NOT push a guess
    assert invert_template("http://ex/line/{a}-{b}",
                           "http://ex/line/1-2-3") is AMBIGUOUS


def test_invert_rejects_encoded_and_empty():
    assert invert_template("http://ex/n/{k}", "http://ex/n/a%20b") \
        is AMBIGUOUS
    assert invert_template("http://ex/n/{k}", "http://ex/n/") is AMBIGUOUS


# -- constraint derivation --------------------------------------------------

def test_derive_eliminates_and_filters():
    mapping = MappingDocument.from_text(TPCH_KG_MAPPING)
    cons = derive_tm_constraints(mapping, """
        SELECT ?p ?o WHERE { <http://example.org/order/1> ?p ?o }""")
    assert cons["#Orders"] == [{"o_orderkey": "1"}]
    assert cons["#Customer"] == []      # eliminated: template can't match
    assert cons["#Nation"] == []
    assert cons["#Region"] == []


def test_derive_class_pattern_prunes_by_class():
    mapping = MappingDocument.from_text(TPCH_KG_MAPPING)
    cons = derive_tm_constraints(mapping, PREFIX + """
        SELECT ?c WHERE { ?c a ex:Customer }""")
    # class-based pruning (r4 object analysis): only the TM whose
    # rr:class matches scans — and it scans fully (no row constraint)
    assert cons["#Customer"] is None
    assert cons["#Orders"] == []
    assert cons["#Nation"] == []


def test_derive_var_subject_var_object_unconstrains():
    mapping = MappingDocument.from_text(TPCH_KG_MAPPING)
    cons = derive_tm_constraints(mapping, PREFIX + """
        SELECT ?c ?n WHERE { ?c ex:name ?n }""")
    # var subject + var object: every name-emitting TM scans fully
    assert cons["#Customer"] is None
    assert cons["#Nation"] is None


def test_derive_pred_match_limits_scope():
    mapping = MappingDocument.from_text(TPCH_KG_MAPPING)
    cons = derive_tm_constraints(mapping, PREFIX + """
        SELECT ?o WHERE { <http://example.org/customer/5> ex:acctbal ?o }""")
    # only Customer emits ex:acctbal; Orders/Nation/Region eliminated
    assert cons["#Customer"] == [{"c_custkey": "5"}]
    assert cons["#Orders"] == []


def test_derive_filter_eq_and_values_promote():
    mapping = MappingDocument.from_text(TPCH_KG_MAPPING)
    cons = derive_tm_constraints(mapping, PREFIX + """
        SELECT ?o WHERE { ?s ex:totalPrice ?o
                          FILTER(?s = <http://example.org/order/3>) }""")
    assert cons["#Orders"] == [{"o_orderkey": "3"}]
    cons = derive_tm_constraints(mapping, PREFIX + """
        SELECT ?o WHERE { ?s ex:totalPrice ?o
            VALUES ?s { <http://example.org/order/1>
                        <http://example.org/order/2> } }""")
    assert cons["#Orders"] == [{"o_orderkey": "1"}, {"o_orderkey": "2"}]


def test_derive_path_pattern_first_hop_only():
    mapping = MappingDocument.from_text(TPCH_KG_MAPPING)
    cons = derive_tm_constraints(mapping, PREFIX + """
        SELECT ?r WHERE { <http://example.org/customer/5>
                          ex:inNation/ex:inRegion ?r }""")
    # r5: the first hop of a SEQUENCE path is anchored at the constant
    # subject, so the inNation producer is constrained; later steps need
    # their full pred pair-sets (Nation serves ex:inRegion unconstrained)
    assert cons["#Customer"] == [{"c_custkey": "5"}]
    assert cons["#Nation"] is None
    # closures (p+/p*) never constrain — walked subjects are unbounded
    cons2 = derive_tm_constraints(mapping, PREFIX + """
        SELECT ?r WHERE { <http://example.org/nation/0> ex:inRegion+ ?r }""")
    assert cons2["#Nation"] is None


# -- tabular answering + plan audit -----------------------------------------

def test_tabular_point_query_parity_and_plan(spark):
    mapping = MappingDocument.from_text(TPCH_KG_MAPPING)
    tables = tpch_tables(spark, SF_DIR)
    qt = ("SELECT ?p ?o WHERE { <http://example.org/order/1> ?p ?o } "
          "ORDER BY ?p ?o")
    df = answer_auto(spark, mapping, qt, tables=tables)
    got = [tuple(r) for r in df.collect()]

    # parity vs the unrestricted engine
    from conftest import tier_pool
    from morph_xr2rml_spark.sparql import SparqlEngine
    full = tier_pool(spark, mapping, "native", tables, fused=False,
                     dedup=False)
    want = [tuple(r) for r in
            SparqlEngine(full, dedup_source=True).sql(qt).collect()]
    assert got == want and len(got) == 5

    plan = df._jdf.queryExecution().executedPlan().toString()
    # the constraint reached the parquet scan
    assert "EqualTo(o_orderkey,1)" in plan
    # eliminated TMs: nation/region sources are not in the plan at all;
    # customer IS scanned — but only as the placedBy ROM parent
    assert "nation.parquet" not in plan
    assert "region.parquet" not in plan
    assert "customer.parquet" in plan


def test_tabular_full_scan_when_unconstrained(spark):
    mapping = MappingDocument.from_text(TPCH_KG_MAPPING)
    tables = tpch_tables(spark, SF_DIR)
    df = answer_auto(spark, mapping, PREFIX +
                     "SELECT ?c ?n WHERE { ?c ex:name ?n }", tables=tables)
    # names come from region+nation+customer TMs: full scans, right counts
    n_region = tables["region"].count()
    n_nation = tables["nation"].count()
    n_customer = tables["customer"].count()
    assert df.count() == n_region + n_nation + n_customer


# -- document answering -----------------------------------------------------

def test_doc_pushdown_composes_native_filter():
    mapping = MappingDocument.from_text(LINEITEM_JSON_MAPPING)
    cons = derive_tm_constraints(mapping, PREFIX + """
        SELECT ?q WHERE { <http://example.org/line/7-1> ex:qty ?q }""")
    assert cons["#Lines"] == [{"$.ok": "7", "$.ln": "1"}]
    m2, _ = constrained_plan(mapping, cons)
    coll, ftext = parse_mongo_query(m2.triples_maps["#Lines"]
                                    .logical_source.value)
    assert coll == "orderdocs"
    # only the doc-level pushDown ref ($.ok) is pushable; $.ln is
    # iterator-relative and dropped; the filter stays natively compilable
    assert "$lexIn" in ftext and "ok" in ftext and "ln" not in ftext
    assert mongo_filter_sql(ftext, "content") is not None


def test_doc_point_query_parity_and_native_plan(spark):
    mapping = MappingDocument.from_text(LINEITEM_JSON_MAPPING)
    catalog = SourceCatalog().register_collection(
        "orderdocs", orderdocs_df(spark, SF_DIR))
    qt = PREFIX + """SELECT ?q ?part WHERE {
        <http://example.org/line/7-1> ex:qty ?q ; ex:part ?part }"""
    df = answer_auto(spark, mapping, qt, catalog=catalog)
    rows = [tuple(r) for r in df.collect()]

    li = spark.read.parquet(f"{SF_DIR}/lineitem.parquet") \
        .where("l_orderkey = 7 AND l_linenumber = 1").collect()
    assert len(rows) == len(li) == 1
    qty = int(li[0]["l_quantity"])
    assert rows[0][0].startswith(f'"{qty}"')

    plan = df._jdf.queryExecution().executedPlan().toString()
    # composed filter kept the json-native tier: no Python in the plan
    assert "Python" not in plan and "MapInPandas" not in plan


def test_doc_eliminated_tm_yields_empty(spark):
    mapping = MappingDocument.from_text(LINEITEM_JSON_MAPPING)
    catalog = SourceCatalog().register_collection(
        "orderdocs", orderdocs_df(spark, SF_DIR))
    df = answer_auto(spark, mapping, PREFIX + """
        SELECT ?q WHERE { <http://example.org/nothing/1> ex:qty ?q }""",
                     catalog=catalog)
    assert df.count() == 0


# -- object-position constant pushdown (round 4, late) ----------------------

def test_derive_object_constraint_via_rom():
    mapping = MappingDocument.from_text(TPCH_KG_MAPPING)
    cons = derive_tm_constraints(mapping, PREFIX + """
        SELECT ?o WHERE { ?o ex:placedBy <http://example.org/customer/5> }""")
    # parent-template inversion transfers to the child's join column
    assert cons["#Orders"] == [{"o_custkey": "5"}]
    assert cons["#Customer"] == []       # its own triples can't match
    assert cons["#Nation"] == []


def test_derive_subject_and_object_conjunction():
    mapping = MappingDocument.from_text(TPCH_KG_MAPPING)
    cons = derive_tm_constraints(mapping, PREFIX + """
        SELECT ?s WHERE { <http://example.org/order/7> ex:placedBy
                          <http://example.org/customer/5> . ?s ex:name ?n }""")
    assert cons["#Orders"] == [{"o_orderkey": "7", "o_custkey": "5"}]


def test_derive_unsatisfiable_object_skips_pattern():
    mapping = MappingDocument.from_text(TPCH_KG_MAPPING)
    # object can't be produced by any placedBy term map → Orders excluded
    cons = derive_tm_constraints(mapping, PREFIX + """
        SELECT ?o WHERE { ?o ex:placedBy <http://example.org/nation/5> }""")
    assert cons["#Orders"] == []


def test_object_pushdown_answer_and_plan(spark):
    mapping = MappingDocument.from_text(TPCH_KG_MAPPING)
    tables = tpch_tables(spark, SF_DIR)
    df = answer_auto(spark, mapping, PREFIX + """
        SELECT ?o WHERE { ?o ex:placedBy <http://example.org/customer/5> }
        ORDER BY ?o""", tables=tables)
    got = [r[0] for r in df.collect()]
    want = sorted(f"<http://example.org/order/{r.o_orderkey}>"
                  for r in tables["orders"].where("o_custkey = 5").collect())
    assert got == want and got
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "EqualTo(o_custkey,5)" in plan
    assert "nation.parquet" not in plan and "region.parquet" not in plan
