"""Round-6 plan audits (VERDICT r5 items 4-5).

LIMIT/ORDER answering: when the compiled triple pool is provably
duplicate-free (r5 uniqueness proofs), the evaluator skips its
per-pattern dropDuplicates — a `SELECT ... ORDER BY ?x LIMIT k` point
query then compiles to TakeOrderedAndProject directly over the filtered
scan with NO exchange at all (the reference plumbs slice through the
target query: AbstractQuery.limit, find().limit(n)
MorphMongoDataSourceReader.scala:65-68; Catalyst's top-k does it one
better once the exchange is gone).

Json-native dedup elimination: the document tiers' tm_distinct extends the
tabular dedup-elimination proof to no-iterator document mappings
(xrr:uniqueRef subjects, constant distinct predicates, static
single-valued object slots) — materialize_auto skips the global dedup
exchange; iterator mappings correctly stay unprovable.
"""

import pytest

from morph_xr2rml_spark.api import answer_auto, materialize_auto
from morph_xr2rml_spark.examples import (LINEITEM_JSON_MAPPING,
                                         ORDERDOC_FLAT_MAPPING,
                                         TPCH_KG_MAPPING, orderdocs_df,
                                         orderflat_catalog, tpch_tables)
from morph_xr2rml_spark.model import MappingDocument
from morph_xr2rml_spark.native import provably_distinct
from morph_xr2rml_spark.native_json import JsonNativeCompiler
from morph_xr2rml_spark.sources import SourceCatalog

SF_DIR = "/root/testdata/sf0.001"
P = "PREFIX ex: <http://example.com/>\n"


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _doc_distinct(spark, mapping) -> bool:
    """The document tiers' duplicate-freeness proof over every TM."""
    jc = JsonNativeCompiler(spark, mapping, SourceCatalog())
    return provably_distinct(mapping.triples_maps.values(), jc.tm_distinct)


# ---------------------------------------------------------------------------
# top-k answering without exchanges
# ---------------------------------------------------------------------------

def test_tabular_topk_is_take_ordered_no_exchange(spark):
    mapping = MappingDocument.from_text(TPCH_KG_MAPPING)
    df = answer_auto(spark, mapping, P + """
        SELECT ?o ?p WHERE { ?o ex:totalPrice ?p } ORDER BY ?p LIMIT 10""",
                     tables=tpch_tables(spark, SF_DIR))
    plan = _plan(df)
    assert "TakeOrderedAndProject" in plan
    assert "hashpartitioning" not in plan       # no dedup, no sort shuffle
    assert "rangepartitioning" not in plan
    rows = df.collect()
    assert len(rows) == 10
    vals = [float(r["p"].split('"')[1]) for r in rows]
    assert vals == sorted(vals)


def test_doc_topk_is_take_ordered_no_exchange(spark):
    mapping = MappingDocument.from_text(ORDERDOC_FLAT_MAPPING)
    df = answer_auto(spark, mapping, P + """
        SELECT ?s ?c WHERE { ?s ex:cust ?c } ORDER BY ?s LIMIT 10""",
                     catalog=orderflat_catalog(spark, SF_DIR))
    plan = _plan(df)
    assert "TakeOrderedAndProject" in plan
    assert "hashpartitioning" not in plan
    assert "rangepartitioning" not in plan
    assert df.count() == 10


def test_point_query_no_exchange(spark):
    mapping = MappingDocument.from_text(TPCH_KG_MAPPING)
    df = answer_auto(spark, mapping, P + """
        SELECT ?p ?o WHERE { <http://example.org/order/1> ?p ?o }""",
                     tables=tpch_tables(spark, SF_DIR))
    plan = _plan(df)
    # the only exchange allowed is the ROM broadcast build (no shuffle)
    assert "hashpartitioning" not in plan and "rangepartitioning" not in plan


# ---------------------------------------------------------------------------
# ORDER BY without LIMIT: precomputed keys sorted in one partition
# ---------------------------------------------------------------------------

def _sort_lines(plan: str) -> list:
    return [ln for ln in plan.splitlines()
            if ln.lstrip(" :+-*()0123456789").startswith("Sort [")]


def test_order_without_limit_sorts_precomputed_keys_in_one_partition(spark):
    mapping = MappingDocument.from_text(TPCH_KG_MAPPING)
    df = answer_auto(spark, mapping, P + """
        SELECT ?o ?p WHERE { ?o ex:totalPrice ?p } ORDER BY DESC(?p) ?o""",
                     tables=tpch_tables(spark, SF_DIR))
    plan = _plan(df)
    assert "rangepartitioning" not in plan      # no sampling pass
    assert plan.count("Exchange SinglePartition") == 1
    sorts = _sort_lines(plan)
    assert len(sorts) == 1 and "#ok" in sorts[0]
    assert "RLIKE" not in sorts[0]              # keys computed upstream
    rows = df.collect()
    assert df.columns == ["o", "p"]
    vals = [float(r["p"].split('"')[1]) for r in rows]
    assert vals == sorted(vals, reverse=True)


def test_point_query_fuses_its_variable_predicate_scan(spark):
    """``<s> ?p ?o`` reads the orders TM whole: one fused scan for its
    entries and one for its referencing object map's probe, not one per
    predicate."""
    mapping = MappingDocument.from_text(TPCH_KG_MAPPING)
    text = P + """SELECT ?p ?o WHERE { <http://example.org/order/1> ?p ?o }
                  ORDER BY ?p ?o"""
    tables = tpch_tables(spark, SF_DIR)
    df = answer_auto(spark, mapping, text, tables=tables)
    plan = _plan(df)
    scans = [ln for ln in plan.splitlines() if "FileScan" in ln]
    assert sum("orders.parquet" in ln for ln in scans) == 2, scans
    assert "rangepartitioning" not in plan
    rows = sorted(map(tuple, df.collect()))
    assert len(rows) == 5       # rdf:type, status, date, price, placedBy
    from morph_xr2rml_spark.sparql import SparqlEngine
    full = SparqlEngine(materialize_auto(spark, mapping, tables=tables))
    assert rows == sorted(map(tuple, full.sql(text).collect()))


XSD_INT = "^^<http://www.w3.org/2001/XMLSchema#integer>"


def test_order_is_exact_under_both_modes(spark):
    """SPARQL §15.4 under DESC and a second key: literals (numeric by
    value, "10" before "9" descending, then the others by lexical form)
    before IRIs before blank nodes before unbound; ties on the first key
    go by the second.  The single-partition sort and the take-ordered
    top-k give the same sequence."""
    from morph_xr2rml_spark.sparql import SparqlEngine
    ex, t = "http://example.com/", "<http://example.com/T>"
    k = {"s1": f'"9"{XSD_INT}', "s2": f'"10"{XSD_INT}', "s3": '"abc"',
         "s4": '"abc"', "s5": "<http://x/a>", "s6": "_:b1"}
    triples = [(f"<{ex}{s}>", "<http://www.w3.org/1999/02/22-rdf-syntax-"
                "ns#type>", t) for s in ("s1", "s2", "s3", "s4", "s5",
                                         "s6", "s7")]
    triples += [(f"<{ex}{s}>", f"<{ex}k>", v) for s, v in k.items()]
    eng = SparqlEngine(spark.createDataFrame(
        triples, "subj string, pred string, obj string"))
    text = P + """SELECT ?s ?k WHERE { ?s a ex:T OPTIONAL { ?s ex:k ?k } }
                  ORDER BY DESC(?k) ?s"""
    want = [("s2", k["s2"]), ("s1", k["s1"]), ("s3", '"abc"'),
            ("s4", '"abc"'), ("s5", k["s5"]), ("s6", k["s6"]),
            ("s7", None)]
    want = [(f"<{ex}{s}>", v) for s, v in want]
    single = eng.sql(text)
    assert "rangepartitioning" not in _plan(single)
    assert [tuple(r) for r in single.collect()] == want
    topk = eng.sql(text + " LIMIT 100")
    assert "TakeOrderedAndProject" in _plan(topk)
    assert [tuple(r) for r in topk.collect()] == want
    # an OFFSET keeps the single-partition order
    assert [tuple(r) for r in eng.sql(text + " OFFSET 2").collect()] \
        == want[2:]


def test_construct_does_not_sort_its_set(spark):
    """The triples are a set: ORDER BY alone neither sorts nor moves
    the solutions to one partition (Catalyst drops a sort under the
    distinct, but not the one-partition exchange)."""
    mapping = MappingDocument.from_text(TPCH_KG_MAPPING)
    tables = tpch_tables(spark, SF_DIR)
    body = P + """CONSTRUCT { ?c ex:label ?n } WHERE { ?c ex:name ?n }"""
    ordered = answer_auto(spark, mapping, body + " ORDER BY ?n",
                          tables=tables)
    plan = _plan(ordered)
    assert not _sort_lines(plan) and "SinglePartition" not in plan
    plain = answer_auto(spark, mapping, body, tables=tables)
    assert sorted(map(tuple, ordered.collect())) \
        == sorted(map(tuple, plain.collect()))
    # a slice still applies before the template (SPARQL §16.2)
    sliced = answer_auto(spark, mapping, body + " ORDER BY ?n LIMIT 3",
                         tables=tables)
    assert sliced.count() == 3


def _decisions(caplog, spark, text, **sources):
    """The ordering and fusion lines one ``answer_auto`` call logs."""
    import logging
    caplog.clear()
    with caplog.at_level(logging.DEBUG, logger="morph_xr2rml_spark"):
        answer_auto(spark, MappingDocument.from_text(TPCH_KG_MAPPING),
                    P + text, **sources)
    msgs = [r.getMessage() for r in caplog.records]
    return ([m for m in msgs if m.startswith("ordering ")],
            [m for m in msgs if " fused: " in m or " per-predicate: " in m])


def test_ordering_and_fusion_are_logged(caplog, spark):
    tables = tpch_tables(spark, SF_DIR)
    order, fuse = _decisions(caplog, spark, """
        SELECT ?p ?o WHERE { <http://example.org/order/1> ?p ?o }
        ORDER BY ?p ?o""", tables=tables)
    assert order == ["ordering single-partition"]
    assert fuse == ["#Orders fused: pattern <http://example.org/order/1> "
                    "?p ?o"]
    order, _fuse = _decisions(caplog, spark, """
        SELECT ?name ?k WHERE {
          ?c ex:name ?name .
          { SELECT ?c (COUNT(*) AS ?k) WHERE { ?o ex:placedBy ?c }
            GROUP BY ?c }
        } ORDER BY DESC(?k) ?name LIMIT 5""", tables=tables)
    # the subquery's own solution tail logs first
    assert order[-1] == "ordering take-ordered"
    order, fuse = _decisions(caplog, spark, """
        SELECT ?c ?n WHERE { ?c ex:name ?n ; ex:acctbal ?b }""",
                             tables=tables)
    assert order == ["ordering none"]
    assert fuse and all(" per-predicate: no variable-predicate pattern"
                        in m for m in fuse), fuse


# ---------------------------------------------------------------------------
# json-native dedup elimination
# ---------------------------------------------------------------------------

def test_doc_mapping_provably_distinct_skips_dedup(spark):
    mapping = MappingDocument.from_text(ORDERDOC_FLAT_MAPPING)
    assert _doc_distinct(spark, mapping)
    df = materialize_auto(spark, mapping,
                          catalog=orderflat_catalog(spark, SF_DIR))
    plan = _plan(df)
    assert "Aggregate" not in plan and "hashpartitioning" not in plan
    # 1500 docs x (rdf:type + status + cust + priority)
    n_orders = spark.read.parquet(f"{SF_DIR}/orders.parquet").count()
    assert df.count() == 4 * n_orders


def test_doc_dedup_elimination_matches_forced_dedup(spark):
    from morph_xr2rml_spark.engine import dedup_triples
    mapping = MappingDocument.from_text(ORDERDOC_FLAT_MAPPING)
    catalog = orderflat_catalog(spark, SF_DIR)
    fast = materialize_auto(spark, mapping, catalog=catalog, dedup=True)
    slow = dedup_triples(
        materialize_auto(spark, mapping, catalog=catalog, dedup=False))
    assert set(map(tuple, fast.collect())) == set(map(tuple, slow.collect()))


def test_iterator_mapping_stays_unprovable(spark):
    mapping = MappingDocument.from_text(LINEITEM_JSON_MAPPING)
    assert not _doc_distinct(spark, mapping)
    cat = SourceCatalog().register_collection(
        "orderdocs", orderdocs_df(spark, SF_DIR))
    df = materialize_auto(spark, mapping, catalog=cat)
    assert "hashpartitioning" in _plan(df)      # dedup exchange stays


def test_decimal_native_comparison_pushes_to_parquet(spark, tmp_path):
    """A comparison FILTER over a NATIVELY-decimal parquet column lands
    in PushedFilters as a typed decimal predicate (r6): the double-cast
    form blocked row-group skipping.  Exactness guard: precision <= 15
    and the literal representable at the column scale — otherwise the
    double path (DataFilters) stays."""
    from pyspark.sql import functions as F
    path = str(tmp_path / "orders_dec")
    (spark.read.parquet(f"{SF_DIR}/orders.parquet")
     .withColumn("o_totalprice", F.col("o_totalprice").cast("decimal(12,2)"))
     .write.mode("overwrite").parquet(path))
    tables = {"orders": spark.read.parquet(path),
              **{n: tpch_tables(spark, SF_DIR)[n]
                 for n in ("region", "nation", "customer")}}
    mapping = MappingDocument.from_text(TPCH_KG_MAPPING)
    df = answer_auto(spark, mapping, P + """
        SELECT ?o WHERE { ?o ex:totalPrice ?p . FILTER(?p > 200000.0) }""",
                     tables=tables)
    plan = _plan(df)
    assert "GreaterThan(o_totalprice,200000.00)" in plan
    # result parity with the double-path engine semantics
    n = spark.read.parquet(path).where("o_totalprice > 200000.0").count()
    assert df.count() == n


def test_mixed_plan_provably_distinct(spark):
    from morph_xr2rml_spark.api import _routed_plan
    from morph_xr2rml_spark.examples import MIXED_KG_MAPPING
    tables = {"customer": tpch_tables(spark, SF_DIR)["customer"]}
    catalog = orderflat_catalog(spark, SF_DIR)

    def plan_provably_distinct(mapping) -> bool:
        return _routed_plan(spark, mapping, catalog, tables)[2]()

    mapping = MappingDocument.from_text(MIXED_KG_MAPPING)
    assert plan_provably_distinct(mapping)
    # adversarial: doc TM without uniqueRef → refused
    weak = MappingDocument.from_text(
        MIXED_KG_MAPPING.replace('; xrr:uniqueRef "$.ok"', ""))
    assert not plan_provably_distinct(weak)
    # adversarial: doc TM rendering into the customer subject space
    clash = MappingDocument.from_text(MIXED_KG_MAPPING.replace(
        "http://example.org/odoc/{$.ok}",
        "http://example.org/customer/{$.ok}"))
    assert not plan_provably_distinct(clash)


def test_mixed_answering_drops_evaluator_dedup(spark):
    """A SELECT over the mixed mapping has NO aggregate in its plan —
    per-pattern dropDuplicates (HashAggregate over subj/pred/obj) is
    eliminated by the cross-tier distinctness proof."""
    from morph_xr2rml_spark.api import answer_auto
    from morph_xr2rml_spark.examples import MIXED_KG_MAPPING
    mapping = MappingDocument.from_text(MIXED_KG_MAPPING)
    df = answer_auto(
        spark, mapping,
        P + 'SELECT ?o ?c WHERE { ?o ex:placedBy ?c ; ex:status "F" }',
        catalog=orderflat_catalog(spark, SF_DIR),
        tables={"customer": tpch_tables(spark, SF_DIR)["customer"]})
    assert "Aggregate" not in _plan(df)
    assert df.count() > 0


def test_ask_through_answer_paths(spark):
    """ASK returns a one-row boolean frame from every answering path
    (previously it fell through to the SELECT evaluator)."""
    from morph_xr2rml_spark.api import answer_auto
    mapping = MappingDocument.from_text(TPCH_KG_MAPPING)
    tables = tpch_tables(spark, SF_DIR)
    t = answer_auto(spark, mapping,
                    P + 'ASK { ?c ex:segment "BUILDING" }', tables=tables)
    assert [r["ask"] for r in t.collect()] == [True]
    f = answer_auto(spark, mapping,
                    P + 'ASK { ?c ex:segment "NO_SUCH" }', tables=tables)
    assert [r["ask"] for r in f.collect()] == [False]
    dm = MappingDocument.from_text(ORDERDOC_FLAT_MAPPING)
    d = answer_auto(spark, dm, P + 'ASK { ?s ex:status "F" }',
                    catalog=orderflat_catalog(spark, SF_DIR))
    assert [r["ask"] for r in d.collect()] == [True]


def test_no_uniqueref_stays_unprovable(spark):
    text = ORDERDOC_FLAT_MAPPING.replace('; xrr:uniqueRef "$.ok"', "")
    assert not _doc_distinct(spark, MappingDocument.from_text(text))


def test_same_pred_two_refs_stays_unprovable(spark):
    # two references under ONE predicate could hold equal values →
    # identical triples are possible
    text = ORDERDOC_FLAT_MAPPING.replace(
        'rr:predicateObjectMap [ rr:predicate ex:cust; '
        'rr:objectMap [ xrr:reference "$.ck" ] ];',
        'rr:predicateObjectMap [ rr:predicate ex:status; '
        'rr:objectMap [ xrr:reference "$.ck" ] ];')
    assert not _doc_distinct(spark, MappingDocument.from_text(text))


def test_wildcard_object_stays_unprovable(spark):
    text = ORDERDOC_FLAT_MAPPING.replace('xrr:reference "$.ck"',
                                         'xrr:reference "$.ck.*"')
    assert not _doc_distinct(spark, MappingDocument.from_text(text))


def test_overlapping_subject_spaces_stay_unprovable(spark):
    # second TM rendering into the SAME subject space with an
    # overlapping predicate set → cross-TM duplicates possible
    extra = """
<#ODoc2>
    a rr:TriplesMap;
    xrr:logicalSource [ xrr:query "db.orderflat.find({})"; xrr:uniqueRef "$.ok" ];
    rr:subjectMap [ rr:template "http://example.org/odoc/{$.ok}" ];
    rr:predicateObjectMap [ rr:predicate ex:status; rr:objectMap [ xrr:reference "$.st" ] ].
"""
    assert not _doc_distinct(
        spark, MappingDocument.from_text(ORDERDOC_FLAT_MAPPING + extra))


def test_except_all_over_deduplicated_output(spark):
    """exceptAll over materialize_auto's deduplicated triples: the dedup
    is an explicit aggregate, whose output attributes a later exceptAll
    resolves (dropDuplicates on the hash pair failed here with
    INTERNAL_ERROR_ATTRIBUTE_NOT_FOUND)."""
    mapping = MappingDocument.from_text(LINEITEM_JSON_MAPPING)
    cat = SourceCatalog().register_collection(
        "orderdocs", orderdocs_df(spark, SF_DIR))
    full = materialize_auto(spark, mapping, catalog=cat)
    assert "hashpartitioning" in _plan(full)    # the dedup runs
    qty = full.where("pred = '<http://example.com/qty>'")
    assert full.exceptAll(qty).count() == full.count() - qty.count()
    assert full.exceptAll(full).count() == 0


# distinct() of the routed plan, materialization and answering mode, for
# every mapping in examples.py and the adversarial variants above — the
# values the tier-specific proofs gave before the one shared proof:
# name -> (examples mapping, (old, new) edit or None, distinct)
_ODOC2 = """<#ODoc2>
    a rr:TriplesMap;
    xrr:logicalSource [ xrr:query "db.orderflat.find({})"; xrr:uniqueRef "$.ok" ];
    rr:subjectMap [ rr:template "http://example.org/odoc/{$.ok}" ];
    rr:predicateObjectMap [ rr:predicate ex:status; rr:objectMap [ xrr:reference "$.st" ] ].
"""
_DISTINCT_TABLE = {
    "graph": ("GRAPH_KG_MAPPING", None, False),
    "lang": ("LANG_KG_MAPPING", None, False),
    "lineitem_json": ("LINEITEM_JSON_MAPPING", None, False),
    "mixed": ("MIXED_KG_MAPPING", None, True),
    "orderdoc_flat": ("ORDERDOC_FLAT_MAPPING", None, True),
    "tpch": ("TPCH_KG_MAPPING", None, True),
    "mixed_weak": ("MIXED_KG_MAPPING", ('; xrr:uniqueRef "$.ok"', ""),
                   False),
    "mixed_clash": ("MIXED_KG_MAPPING", ("http://example.org/odoc/{$.ok}",
                                         "http://example.org/customer/"
                                         "{$.ok}"), False),
    "no_uniqueref": ("ORDERDOC_FLAT_MAPPING",
                     ('; xrr:uniqueRef "$.ok"', ""), False),
    "same_pred_two_refs": ("ORDERDOC_FLAT_MAPPING",
                           ("ex:cust; rr:objectMap", "ex:status; "
                            "rr:objectMap"), False),
    "wildcard": ("ORDERDOC_FLAT_MAPPING",
                 ('xrr:reference "$.ck"', 'xrr:reference "$.ck.*"'), False),
    "overlap": ("ORDERDOC_FLAT_MAPPING", ("<#ODoc>", _ODOC2 + "<#ODoc>"),
                False),
}


@pytest.mark.parametrize("name", sorted(_DISTINCT_TABLE))
def test_distinct_table(spark, name):
    from morph_xr2rml_spark import examples
    from morph_xr2rml_spark.api import _routed_plan
    base, edit, want = _DISTINCT_TABLE[name]
    text = getattr(examples, base)
    if edit is not None:
        assert edit[0] in text
        text = text.replace(*edit)
    catalog = orderflat_catalog(spark, SF_DIR) if "orderflat" in text \
        else SourceCatalog().register_collection(
            "orderdocs", orderdocs_df(spark, SF_DIR))
    mapping = MappingDocument.from_text(text)
    for constraints in (None, {}):
        assert _routed_plan(spark, mapping, catalog,
                            tpch_tables(spark, SF_DIR),
                            constraints=constraints)[2]() is want
