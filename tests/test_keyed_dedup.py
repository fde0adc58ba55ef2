"""Keyed dedup: ``materialize_auto`` deduplicates on entry ids and typed
leaf values, and renders the terms above the aggregate, wherever the
proof admits it.  Every case must equal both oracles, the hashed dedup
of the undeduplicated plan and the Python ``local_engine``, with no
triple twice; every refused case must fall back to the hashed dedup."""

import json
import logging
from decimal import Decimal

import pytest

from morph_xr2rml_spark.api import materialize_auto
from morph_xr2rml_spark.engine import dedup_triples
from morph_xr2rml_spark.examples import (LINEITEM_JSON_MAPPING,
                                         TPCH_KG_MAPPING, orderdocs_df)
from morph_xr2rml_spark.local_engine import materialize_local
from morph_xr2rml_spark.model import MappingDocument
from morph_xr2rml_spark.sources import SourceCatalog


@pytest.fixture(scope="module")
def corpus(spark):
    """The kg_docs corpus shape: one document per order, its lines
    nested, about a tenth of (order, line) pairs repeated."""
    rows = [(ok, ok * 7 % 50, ln % 4 + 1, float(ok * ln % 9))
            for ok in range(1, 60) for ln in range(5)]
    lineitem = spark.createDataFrame(
        rows, "l_orderkey long, l_partkey long, l_linenumber int, "
              "l_quantity double")
    return SourceCatalog().register_collection(
        "orderdocs", orderdocs_df(spark, None, lineitem=lineitem))

PREFIXES = """
@prefix rr:  <http://www.w3.org/ns/r2rml#> .
@prefix rml: <http://semweb.mmlab.be/ns/rml#> .
@prefix xrr: <http://i3s.unice.fr/xr2rml#> .
@prefix ex:  <http://example.com/> .
"""


def _dedup_mode(caplog, spark, mapping, **sources):
    """(rows, mode, reason) of one ``materialize_auto`` call."""
    caplog.clear()
    with caplog.at_level(logging.DEBUG, logger="morph_xr2rml_spark.api"):
        rows = [tuple(r) for r in
                materialize_auto(spark, mapping, **sources).collect()]
    lines = [r.getMessage() for r in caplog.records
             if r.getMessage().startswith("dedup ")]
    assert len(lines) == 1, lines
    mode, _, reason = lines[0][len("dedup "):].partition(": ")
    return rows, mode, reason


def _check(caplog, spark, mapping_text, docs: dict, mode: str):
    """The keyed/hashed output equals both oracles, each triple once;
    returns the logged reason."""
    mapping = MappingDocument.from_text(PREFIXES + mapping_text)
    cat = SourceCatalog()
    for name, ds in docs.items():
        cat.register_collection(name, spark.createDataFrame(
            [(json.dumps(d),) for d in ds], "content string"))
    rows, got_mode, reason = _dedup_mode(caplog, spark, mapping, catalog=cat)
    assert got_mode == mode, reason
    hashed = dedup_triples(materialize_auto(spark, mapping, catalog=cat,
                                            dedup=False)).collect()
    want = materialize_local(mapping, docs)
    assert sorted(rows) == sorted(tuple(r) for r in hashed) == sorted(want)
    return reason


LINES = """
<#Lines>
    xrr:logicalSource [ xrr:query "db.orderdocs.find({})";
                        rml:iterator "$.lines.*";
                        xrr:pushDown [ xrr:reference "$.ok"; xrr:as "ok" ] ];
    rr:subjectMap [ rr:template "http://example.org/line/{$.ok}-{$.ln}";
                    rr:class ex:Line ];
    rr:predicateObjectMap [ rr:predicate ex:qty;
                            rr:objectMap [ xrr:reference "$.qty" ] ];
    rr:predicateObjectMap [ rr:predicate ex:part;
        rr:objectMap [ rr:template "http://example.org/part/{$.pk}" ] ].
"""


def test_repeated_lines_with_differing_qty(caplog, spark):
    # the same (ok, ln) twice per order and the order twice: one class
    # triple, one part triple, every distinct qty
    docs = [{"ok": 1, "lines": [{"ln": 1, "pk": 7, "qty": 5},
                                {"ln": 1, "pk": 7, "qty": 6},
                                {"ln": 2, "pk": 7, "qty": 5}]},
            {"ok": 1, "lines": [{"ln": 1, "pk": 7, "qty": 5}]},
            {"ok": 2, "lines": [{"ln": 1, "pk": 8, "qty": 5}]}]
    _check(caplog, spark, LINES, {"orderdocs": docs}, "keyed")


def test_null_and_negative_template_groups(caplog, spark):
    # "1--2", "-1-2", "--2", "-1-", NULL groups rendering '', and a
    # subject whose groups are all NULL (no triple)
    docs = [{"ok": 1, "lines": [{"ln": -2, "pk": 1, "qty": 1}]},
            {"ok": -1, "lines": [{"ln": 2, "pk": 1, "qty": 1},
                                 {"ln": None, "pk": 2, "qty": -3}]},
            {"ok": None, "lines": [{"ln": -2, "pk": 1, "qty": 1},
                                   {"ln": 2, "pk": None, "qty": None}]},
            {"lines": [{"ln": 12, "pk": 3, "qty": 0},
                       {"pk": 4, "qty": 9}]},
            {"ok": 11, "lines": [{"ln": 2, "pk": 3, "qty": 0}]},
            {"ok": 1, "lines": [{"ln": 12, "pk": 3, "qty": 0}]}]
    _check(caplog, spark, LINES, {"orderdocs": docs}, "keyed")


def test_constant_graph_maps(caplog, spark):
    mapping = """
<#T>
    xrr:logicalSource [ xrr:query "db.d.find({})" ];
    rr:subjectMap [ rr:template "http://x/s/{$.k}"; rr:class ex:C;
                    rr:graph ex:G1 ];
    rr:predicateObjectMap [ rr:predicate ex:v;
                            rr:objectMap [ xrr:reference "$.v" ];
                            rr:graph ex:G2 ].
"""
    docs = [{"k": 1, "v": 2}, {"k": 1, "v": 2}, {"k": 1, "v": 3},
            {"k": 2, "v": None}, {"k": None, "v": 4}]
    _check(caplog, spark, mapping, {"d": docs}, "keyed")


def test_two_object_maps_on_one_predicate(caplog, spark):
    # $.a of one document equals $.b of another: the entries may emit
    # the same triple, so the proof refuses
    mapping = """
<#T>
    xrr:logicalSource [ xrr:query "db.d.find({})" ];
    rr:subjectMap [ rr:template "http://x/s/{$.k}" ];
    rr:predicateObjectMap [ rr:predicate ex:v;
                            rr:objectMap [ xrr:reference "$.a" ];
                            rr:objectMap [ xrr:reference "$.b" ] ].
"""
    docs = [{"k": 1, "a": 5, "b": 6}, {"k": 1, "a": 6, "b": 7},
            {"k": 2, "a": 1, "b": 1}]
    reason = _check(caplog, spark, mapping, {"d": docs}, "hashed")
    assert "may emit the same triple" in reason


TWO_TMS = """
<#A>
    xrr:logicalSource [ xrr:query "db.a.find({})" ];
    rr:subjectMap [ rr:template "http://x/{$.k}" ];
    rr:predicateObjectMap [ rr:predicate ex:v;
                            rr:objectMap [ xrr:reference "$.v" ] ].
<#B>
    xrr:logicalSource [ xrr:query "db.b.find({})" ];
    rr:subjectMap [ rr:template "http://x/{$.k}" ];
    rr:predicateObjectMap [ rr:predicate ex:PRED;
                            rr:objectMap [ xrr:reference "$.v" ] ].
"""


def test_two_triples_maps_with_overlapping_subjects(caplog, spark):
    docs = {"a": [{"k": 1, "v": 2}, {"k": 1, "v": 2}, {"k": 2, "v": 3}],
            "b": [{"k": 1, "v": 2}, {"k": 3, "v": 2}]}
    # one predicate, one subject space: the TMs can emit a common triple
    reason = _check(caplog, spark, TWO_TMS.replace("PRED", "v"), docs,
                    "hashed")
    assert reason == "#A and #B may emit the same triple"
    # disjoint predicates: each TM dedups on its own keys
    _check(caplog, spark, TWO_TMS.replace("PRED", "w"), docs, "keyed")


def test_doubles_route_hashed(caplog, spark):
    mapping = """
<#T>
    xrr:logicalSource [ xrr:query "db.d.find({})" ];
    rr:subjectMap [ rr:template "http://x/s/{$.k}" ];
    rr:predicateObjectMap [ rr:predicate ex:v;
                            rr:objectMap [ xrr:reference "$.v" ] ].
"""
    # grouping merges -0.0 with 0.0 (and NaN with NaN); the renders differ
    docs = [{"k": 1, "v": -0.0}, {"k": 1, "v": 0.0}, {"k": 1, "v": 0.0},
            {"k": 1, "v": float("nan")}, {"k": 1, "v": float("nan")},
            {"k": 1, "v": 2.5}, {"k": 2, "v": 1.5}]
    reason = _check(caplog, spark, mapping, {"d": docs}, "hashed")
    assert "$.v as double" in reason


def test_trimmed_strings_route_hashed(caplog, spark):
    mapping = """
<#T>
    xrr:logicalSource [ xrr:query "db.d.find({})" ];
    rr:subjectMap [ rr:template "http://x/s/{$.k}" ];
    rr:predicateObjectMap [ rr:predicate ex:v;
                            rr:objectMap [ xrr:reference "$.s" ] ];
    rr:predicateObjectMap [ rr:predicate ex:i;
                            rr:objectMap [ xrr:reference "$.s";
                                           rr:termType rr:IRI ] ].
"""
    # " a" and "a" render the same trimmed literal and IRI
    docs = [{"k": 1, "s": " a"}, {"k": 1, "s": "a"}, {"k": 1, "s": "a\t"}]
    reason = _check(caplog, spark, mapping, {"d": docs}, "hashed")
    assert "$.s as string" in reason


def test_string_separator_collision_routes_hashed(caplog, spark):
    mapping = """
<#T>
    xrr:logicalSource [ xrr:query "db.d.find({})" ];
    rr:subjectMap [ rr:template "http://x/s/{$.a}-{$.b}" ];
    rr:predicateObjectMap [ rr:predicate ex:v;
                            rr:objectMap [ xrr:reference "$.v" ] ].
"""
    # ("x-y", "z") and ("x", "y-z") render one subject
    docs = [{"a": "x-y", "b": "z", "v": 1}, {"a": "x", "b": "y-z", "v": 1}]
    reason = _check(caplog, spark, mapping, {"d": docs}, "hashed")
    assert "{$.a}-{$.b}" in reason and "as string" in reason


def test_dedup_mode_is_logged(caplog, spark, corpus):
    _rows, mode, _ = _dedup_mode(
        caplog, spark, MappingDocument.from_text(LINEITEM_JSON_MAPPING),
        catalog=corpus)
    assert mode == "keyed"
    # one row per table: the proof reads the mapping and the schemas
    tables = {name: spark.createDataFrame([row], schema)
              for name, row, schema in (
        ("region", (1, "R"), "r_regionkey long, r_name string"),
        ("nation", (1, "N", 1),
         "n_nationkey long, n_name string, n_regionkey long"),
        ("customer", (1, "C", "S", Decimal("1.00"), 1),
         "c_custkey long, c_name string, c_mktsegment string, "
         "c_acctbal decimal(12,2), c_nationkey long"),
        ("orders", (1, "O", None, Decimal("1.00"), 1),
         "o_orderkey long, o_orderstatus string, o_orderdate date, "
         "o_totalprice decimal(12,2), o_custkey long"))}
    _rows, mode, _ = _dedup_mode(
        caplog, spark, MappingDocument.from_text(TPCH_KG_MAPPING),
        tables=tables)
    assert mode == "eliminated"


def _first_exchange(plan):
    """Pre-order walk of a physical plan for its topmost Exchange."""
    if plan.nodeName() == "AdaptiveSparkPlan":
        plan = plan.initialPlan()       # exchanges inserted
    if plan.nodeName() == "Exchange":
        return plan
    kids = plan.children()
    for i in range(kids.size()):
        found = _first_exchange(kids.apply(i))
        if found is not None:
            return found
    return None


def test_corpus_dedup_exchange_ships_no_strings(spark, corpus):
    """The kg_docs mapping's dedup exchange carries the entry id and the
    typed leaves, no rendered term."""
    df = materialize_auto(
        spark, MappingDocument.from_text(LINEITEM_JSON_MAPPING),
        catalog=corpus)
    exchange = _first_exchange(df._jdf.queryExecution().executedPlan())
    out = exchange.output()
    types = [out.apply(i).dataType().simpleString() for i in range(out.size())]
    assert types and "string" not in types, types


def test_corpus_output_equals_hashed_dedup(spark, corpus):
    mapping = MappingDocument.from_text(LINEITEM_JSON_MAPPING)
    got = materialize_auto(spark, mapping, catalog=corpus)
    plain = materialize_auto(spark, mapping, catalog=corpus, dedup=False)
    want = dedup_triples(plain)
    n = got.count()
    assert plain.count() > n == want.count()     # duplicates were dropped
    assert got.exceptAll(want).count() == 0
