"""Round-5 fixes:

1. uniqueness-driven dedup elimination (VERDICT r4 item 1): a mapping
   whose branches are provably duplicate-free and pairwise disjoint
   (xrr:uniqueRef subjects, constant distinct predicates, single-valued
   objects, unit-multiplicity ROM joins) skips the global dropDuplicates
   exchange at compile time — the reference needs Jena set semantics
   (MorphBaseDataTranslator accumulates into a Model); we prove them away;
2. the left_semi ROM probe collapse is now GATED on a declared-unique
   parent key (ADVICE r4: without xrr:uniqueRef a duplicate-keyed parent
   changes the un-deduplicated plan's multiplicity);
3. rewrite.py soundness (ADVICE r4): rdf:type emitted via an explicit
   predicate-object map no longer causes TM elimination, and zero-length
   property paths (star/opt) never constrain any TM.
"""

import pytest

from morph_xr2rml_spark.api import _routed_plan
from morph_xr2rml_spark.examples import TPCH_KG_MAPPING, tpch_tables
from morph_xr2rml_spark.model import MappingDocument
from morph_xr2rml_spark.native import NativeCompiler, provably_distinct
from morph_xr2rml_spark.rewrite import (_path_iris, derive_tm_constraints,
                                        invert_object)

from conftest import tier_pool

SF_DIR = "/root/testdata/sf0.001"
PREFIX = "PREFIX ex: <http://example.com/>\n"


def _physical_plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


# ---------------------------------------------------------------------------
# 1. dedup elimination
# ---------------------------------------------------------------------------

def _plan_distinct(spark, mapping, tables) -> bool:
    """The routed plan's one duplicate-freeness proof."""
    return _routed_plan(spark, mapping, tables=tables)[2]()


def test_tpch_mapping_provably_distinct(spark):
    mapping = MappingDocument.from_text(TPCH_KG_MAPPING)
    tables = tpch_tables(spark, SF_DIR)
    c = NativeCompiler(spark, mapping, tables)
    assert provably_distinct(mapping.triples_maps.values(), c.tm_distinct)
    df = tier_pool(spark, mapping, "native", tables)
    assert _plan_distinct(spark, mapping, tables)
    # the dedup exchange is a HashAggregate over the hash pair — the
    # eliminated plan must contain NO aggregate at all
    assert "Aggregate" not in _physical_plan(df)


def test_dedup_elimination_matches_forced_dedup(spark):
    from morph_xr2rml_spark.engine import dedup_triples
    mapping = MappingDocument.from_text(TPCH_KG_MAPPING)
    tables = tpch_tables(spark, SF_DIR)
    fast = tier_pool(spark, mapping, "native", tables)
    assert _plan_distinct(spark, mapping, tables)
    slow = dedup_triples(tier_pool(spark, mapping, "native", tables,
                                   dedup=False))
    assert set(map(tuple, fast.collect())) == set(map(tuple, slow.collect()))


def test_no_uniqueref_keeps_dedup(spark):
    # strip the uniqueRef declarations → proof must fail, dedup must run
    text = TPCH_KG_MAPPING.replace('; xrr:uniqueRef "r_regionkey"', "") \
                          .replace('; xrr:uniqueRef "n_nationkey"', "") \
                          .replace('; xrr:uniqueRef "c_custkey"', "") \
                          .replace('; xrr:uniqueRef "o_orderkey"', "")
    assert "uniqueRef" not in text
    mapping = MappingDocument.from_text(text)
    tables = tpch_tables(spark, SF_DIR)
    c = NativeCompiler(spark, mapping, tables)
    assert not provably_distinct(mapping.triples_maps.values(), c.tm_distinct)
    df = tier_pool(spark, mapping, "native", tables)
    assert not _plan_distinct(spark, mapping, tables)
    assert "Aggregate" in _physical_plan(df)


def test_duplicate_pred_blocks_proof(spark):
    # two object maps under the SAME predicate over columns: values could
    # coincide, no proof — from examples.LANG_KG_MAPPING's shape
    text = """
    @prefix rr:  <http://www.w3.org/ns/r2rml#> .
    @prefix xrr: <http://i3s.unice.fr/xr2rml#> .
    @prefix ex:  <http://example.com/> .
    <#N> a rr:TriplesMap;
        rr:logicalTable [ rr:tableName "nation"; xrr:uniqueRef "n_nationkey" ];
        rr:subjectMap [ rr:template "http://example.org/nation/{n_nationkey}" ];
        rr:predicateObjectMap [ rr:predicate ex:v; rr:objectMap [ rr:column "n_name" ] ];
        rr:predicateObjectMap [ rr:predicate ex:v; rr:objectMap [ rr:column "n_comment" ] ].
    """
    mapping = MappingDocument.from_text(text)
    c = NativeCompiler(spark, mapping, tpch_tables(spark, SF_DIR))
    assert not provably_distinct(mapping.triples_maps.values(), c.tm_distinct)


def test_overlapping_subject_space_needs_disjoint_preds(spark):
    # two TMs over the same subject template with the SAME predicate:
    # cross-TM duplicates possible → no proof
    text = """
    @prefix rr:  <http://www.w3.org/ns/r2rml#> .
    @prefix xrr: <http://i3s.unice.fr/xr2rml#> .
    @prefix ex:  <http://example.com/> .
    <#A> a rr:TriplesMap;
        rr:logicalTable [ rr:tableName "nation"; xrr:uniqueRef "n_nationkey" ];
        rr:subjectMap [ rr:template "http://example.org/nation/{n_nationkey}" ];
        rr:predicateObjectMap [ rr:predicate ex:name; rr:objectMap [ rr:column "n_name" ] ].
    <#B> a rr:TriplesMap;
        rr:logicalTable [ rr:tableName "nation"; xrr:uniqueRef "n_nationkey" ];
        rr:subjectMap [ rr:template "http://example.org/nation/{n_nationkey}" ];
        rr:predicateObjectMap [ rr:predicate ex:name; rr:objectMap [ rr:column "n_comment" ] ].
    """
    mapping = MappingDocument.from_text(text)
    c = NativeCompiler(spark, mapping, tpch_tables(spark, SF_DIR))
    assert not provably_distinct(mapping.triples_maps.values(), c.tm_distinct)
    # same shape but DISTINCT predicates → disjoint, proof holds
    mapping2 = MappingDocument.from_text(text.replace(
        "rr:predicate ex:name; rr:objectMap [ rr:column \"n_comment\" ]",
        "rr:predicate ex:comment; rr:objectMap [ rr:column \"n_comment\" ]"))
    c2 = NativeCompiler(spark, mapping2, tpch_tables(spark, SF_DIR))
    assert provably_distinct(mapping2.triples_maps.values(), c2.tm_distinct)


def test_multi_group_template_proof(spark):
    # "{l_orderkey}-{l_linenumber}": int alphabets contain '-', so the
    # '-' separator is ambiguous → proof fails; '/' separator is safe
    base = """
    @prefix rr:  <http://www.w3.org/ns/r2rml#> .
    @prefix xrr: <http://i3s.unice.fr/xr2rml#> .
    @prefix ex:  <http://example.com/> .
    <#L> a rr:TriplesMap;
        rr:logicalTable [ rr:tableName "lineitem"; xrr:uniqueRef "l_orderkey" ];
        rr:subjectMap [ rr:template "http://example.org/line/{l_orderkey}SEP{l_linenumber}" ];
        rr:predicateObjectMap [ rr:predicate ex:qty; rr:objectMap [ rr:column "l_quantity" ] ].
    """
    tables = tpch_tables(spark, SF_DIR)
    amb = MappingDocument.from_text(base.replace("SEP", "-"))
    assert not provably_distinct(amb.triples_maps.values(),
                                 NativeCompiler(spark, amb, tables).tm_distinct)
    safe = MappingDocument.from_text(base.replace("SEP", "/"))
    assert provably_distinct(safe.triples_maps.values(),
                             NativeCompiler(spark, safe, tables).tm_distinct)


# ---------------------------------------------------------------------------
# 2. semi-probe collapse gated on xrr:uniqueRef
# ---------------------------------------------------------------------------

def test_semi_collapse_requires_uniqueref(spark):
    tables = tpch_tables(spark, SF_DIR)
    with_u = MappingDocument.from_text(TPCH_KG_MAPPING)
    plan_u = _physical_plan(
        tier_pool(spark, with_u, "native", tables, dedup=False))
    assert "LeftSemi" in plan_u
    without = MappingDocument.from_text(
        TPCH_KG_MAPPING.replace('; xrr:uniqueRef "c_custkey"', ""))
    plan_n = _physical_plan(
        tier_pool(spark, without, "native", tables, dedup=False))
    # the orders→customer ROM must fall back to the inner join (customer
    # key no longer declared unique); nation/region probes remain
    assert plan_n.count("LeftSemi") == plan_u.count("LeftSemi") - 1


def test_duplicate_parent_multiplicity_preserved(spark):
    """Without uniqueRef, a duplicate-keyed parent emits one triple per
    matching parent ROW under dedup=False (reference inner-join
    semantics) — the regression ADVICE r4 flagged."""
    text = """
    @prefix rr: <http://www.w3.org/ns/r2rml#> .
    @prefix ex: <http://example.com/> .
    <#Child> a rr:TriplesMap;
        rr:logicalTable [ rr:tableName "dup_child" ];
        rr:subjectMap [ rr:template "http://example.org/c/{id}" ];
        rr:predicateObjectMap [ rr:predicate ex:ref;
            rr:objectMap [ rr:parentTriplesMap <#Parent>;
                           rr:joinCondition [ rr:child "pid"; rr:parent "pid" ] ] ].
    <#Parent> a rr:TriplesMap;
        rr:logicalTable [ rr:tableName "dup_parent" ];
        rr:subjectMap [ rr:template "http://example.org/p/{pid}" ].
    """
    child = spark.createDataFrame([(1, 10)], "id int, pid int")
    parent = spark.createDataFrame([(10,), (10,)], "pid int")
    mapping = MappingDocument.from_text(text)
    tables = {"dup_child": child, "dup_parent": parent}
    rows = tier_pool(spark, mapping, "native", tables, dedup=False).collect()
    refs = [r for r in rows if r.pred.endswith("ref>")]
    assert len(refs) == 2          # N duplicates, matching the inner join
    assert tier_pool(spark, mapping, "native", tables) \
        .where("pred like '%ref%'").count() == 1


# ---------------------------------------------------------------------------
# 3. rewrite.py soundness fixes
# ---------------------------------------------------------------------------

RDF_TYPE = "http://www.w3.org/1999/02/22-rdf-syntax-ns#type"

POM_TYPE_MAPPING = """
@prefix rr:  <http://www.w3.org/ns/r2rml#> .
@prefix rdf: <http://www.w3.org/1999/02/22-rdf-syntax-ns#> .
@prefix ex:  <http://example.com/> .
<#Orders> a rr:TriplesMap;
    rr:logicalTable [ rr:tableName "orders" ];
    rr:subjectMap [ rr:template "http://example.org/order/{o_orderkey}" ];
    rr:predicateObjectMap [ rr:predicate rdf:type; rr:objectMap [ rr:constant ex:Order ] ];
    rr:predicateObjectMap [ rr:predicate ex:status; rr:objectMap [ rr:column "o_orderstatus" ] ].
"""


def test_rdf_type_pom_not_eliminated():
    """ADVICE r4 (high): a TM emitting rdf:type via an explicit POM must
    survive a '?s a ex:Order' pattern."""
    mapping = MappingDocument.from_text(POM_TYPE_MAPPING)
    tm = mapping.triples_maps["#Orders"]
    assert tm.class_uris == []     # type comes ONLY from the POM
    res = invert_object(mapping, tm, RDF_TYPE, "http://example.com/Order")
    assert res is not None         # matches (constant object, every row)
    cons = derive_tm_constraints(
        mapping, PREFIX + "SELECT ?s WHERE { ?s a ex:Order }")
    assert cons["#Orders"] is None  # unconstrained full scan, NOT skipped


def test_rdf_type_pom_wrong_class_still_eliminates():
    mapping = MappingDocument.from_text(POM_TYPE_MAPPING)
    tm = mapping.triples_maps["#Orders"]
    assert invert_object(mapping, tm, RDF_TYPE,
                         "http://example.com/Nope") is None
    cons = derive_tm_constraints(
        mapping, PREFIX + "SELECT ?s WHERE { ?s a ex:Nope }")
    assert cons["#Orders"] == []   # provably no match → eliminated


def test_star_and_opt_paths_unknowable():
    """ADVICE r4 (medium): zero-length-capable paths match every node
    with itself, so they must never constrain or eliminate a TM."""
    assert _path_iris(("star", ("iri", "http://example.com/p"))) is None
    assert _path_iris(("opt", ("iri", "http://example.com/p"))) is None
    # one-or-more keeps its predicate set (edges are all p-edges)
    assert _path_iris(("plus", ("iri", "http://example.com/p"))) == \
        {"http://example.com/p"}
    mapping = MappingDocument.from_text(TPCH_KG_MAPPING)
    cons = derive_tm_constraints(mapping, PREFIX +
                                 "SELECT ?x ?y WHERE { ?x ex:nosuch* ?y }")
    # a TM emitting none of the path's predicates still contributes
    # nodes to identity matches: every TM stays unconstrained
    assert all(c is None for c in cons.values())
