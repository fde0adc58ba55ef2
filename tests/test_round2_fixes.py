"""Round-2 fixes: property-path fixpoint, zero-condition ROMs, $ne /
numeric-eq filter semantics, per-TM OFFSET."""

import json

import pytest
from pyspark.sql import functions as F

from morph_xr2rml_spark.api import materialize_auto
from morph_xr2rml_spark.engine import SparkMaterializer, release, session_state
from morph_xr2rml_spark.model import MappingDocument
from morph_xr2rml_spark.sources import SourceCatalog, mongo_filter_to_column
from morph_xr2rml_spark.sparql import SparqlEngine

from conftest import tier_pool


def _chain_triples(spark, n):
    """<urn:0> ex:next <urn:1> ... — a chain of depth n."""
    rows = [(f"<urn:{i}>", "<http://example.com/next>", f"<urn:{i + 1}>", None)
            for i in range(n)]
    return spark.createDataFrame(
        rows, "subj string, pred string, obj string, graph string")


# ---------------------------------------------------------------------------
# property paths: fixpoint, not a silent 16-hop truncation
# ---------------------------------------------------------------------------

def test_path_plus_runs_to_fixpoint_beyond_16_hops(spark):
    depth = 40
    eng = SparqlEngine(_chain_triples(spark, depth))
    rows = eng.sql("PREFIX ex: <http://example.com/> "
                   "SELECT ?a ?b WHERE { ?a ex:next+ ?b . }").collect()
    # full closure of a chain of n edges has n*(n+1)/2 pairs
    assert len(rows) == depth * (depth + 1) // 2
    got = {(r.a, r.b) for r in rows}
    assert ("<urn:0>", f"<urn:{depth}>") in got  # the 40-hop pair


def test_path_cap_raises_instead_of_truncating(spark):
    eng = SparqlEngine(_chain_triples(spark, 10), path_max_hops=3)
    with pytest.raises(RuntimeError, match="safety cap"):
        eng.sql("PREFIX ex: <http://example.com/> "
                "SELECT ?a ?b WHERE { ?a ex:next+ ?b . }").collect()


# ---------------------------------------------------------------------------
# zero-join-condition refobjectmaps: empty result, never a cross product
# ---------------------------------------------------------------------------

NOCOND_DOC_MAPPING = """
@prefix rr: <http://www.w3.org/ns/r2rml#> .
@prefix xrr: <http://i3s.unice.fr/xr2rml#> .
@prefix ex: <http://example.com/> .
<#A> xrr:logicalSource [ xrr:query "db.a.find({})" ];
  rr:subjectMap [ rr:template "http://a/{$.id}" ];
  rr:predicateObjectMap [ rr:predicate ex:ref;
    rr:objectMap [ rr:parentTriplesMap <#B> ] ].
<#B> xrr:logicalSource [ xrr:query "db.b.find({})" ];
  rr:subjectMap [ rr:template "http://b/{$.id}" ];
  rr:predicateObjectMap [ rr:predicate ex:name;
                          rr:objectMap [ xrr:reference "$.name" ] ].
"""

NOCOND_RDB_MAPPING = """
@prefix rr: <http://www.w3.org/ns/r2rml#> .
@prefix ex: <http://example.com/> .
<#A> rr:logicalTable [ rr:tableName "ta" ];
  rr:subjectMap [ rr:template "http://a/{id}" ];
  rr:predicateObjectMap [ rr:predicate ex:ref;
    rr:objectMap [ rr:parentTriplesMap <#B> ] ].
<#B> rr:logicalTable [ rr:tableName "tb" ];
  rr:subjectMap [ rr:template "http://b/{id}" ];
  rr:predicateObjectMap [ rr:predicate ex:name; rr:objectMap [ rr:column "name" ] ].
"""


def test_nocond_rom_document_engine_empty(spark):
    mapping = MappingDocument.from_text(NOCOND_DOC_MAPPING)
    cat = SourceCatalog()
    cat.register_collection("a", spark.createDataFrame(
        [(json.dumps({"id": i}),) for i in range(3)], "content string"))
    cat.register_collection("b", spark.createDataFrame(
        [(json.dumps({"id": i, "name": f"n{i}"}),) for i in range(3)],
        "content string"))
    out = SparkMaterializer(spark, mapping, cat).triples().collect()
    ref_triples = [r for r in out if r.pred == "<http://example.com/ref>"]
    assert ref_triples == []          # NOT a 3x3 cross product
    assert len(out) > 0               # other triples still produced


def test_nocond_rom_native_compiler_empty(spark):
    mapping = MappingDocument.from_text(NOCOND_RDB_MAPPING)
    ta = spark.createDataFrame([(1,), (2,)], "id int")
    tb = spark.createDataFrame([(1, "x"), (2, "y")], "id int, name string")
    out = tier_pool(spark, mapping, "native", {"ta": ta, "tb": tb}).collect()
    assert [r for r in out if r.pred == "<http://example.com/ref>"] == []
    assert len(out) > 0


# ---------------------------------------------------------------------------
# find() filter semantics: $ne keeps missing fields; numeric eq matches
# cross-representation (3 vs 3.0) via the Python fallback
# ---------------------------------------------------------------------------

NE_MAPPING = """
@prefix rr: <http://www.w3.org/ns/r2rml#> .
@prefix xrr: <http://i3s.unice.fr/xr2rml#> .
@prefix ex: <http://example.com/> .
<#T> xrr:logicalSource [ xrr:query "db.docs.find({status: {$ne: 'deleted'}})" ];
  rr:subjectMap [ rr:template "http://d/{$.id}" ];
  rr:predicateObjectMap [ rr:predicate ex:id; rr:objectMap [ xrr:reference "$.id" ] ].
"""


def test_ne_keeps_missing_field_docs(spark):
    mapping = MappingDocument.from_text(NE_MAPPING)
    docs = [{"id": 1, "status": "deleted"},
            {"id": 2, "status": "live"},
            {"id": 3}]                      # no status: Mongo $ne keeps it
    cat = SourceCatalog().register_collection(
        "docs", spark.createDataFrame([(json.dumps(d),) for d in docs],
                                      "content string"))
    out = SparkMaterializer(spark, mapping, cat).triples().collect()
    subs = {r.subj for r in out}
    assert subs == {"<http://d/2>", "<http://d/3>"}


NUMEQ_MAPPING = """
@prefix rr: <http://www.w3.org/ns/r2rml#> .
@prefix xrr: <http://i3s.unice.fr/xr2rml#> .
@prefix ex: <http://example.com/> .
<#T> xrr:logicalSource [ xrr:query "db.docs.find({v: 3})" ];
  rr:subjectMap [ rr:template "http://d/{$.id}" ];
  rr:predicateObjectMap [ rr:predicate ex:id; rr:objectMap [ xrr:reference "$.id" ] ].
"""


def test_numeric_eq_matches_cross_representation(spark):
    assert mongo_filter_to_column("{v: 3}", "content") is None  # Python path
    mapping = MappingDocument.from_text(NUMEQ_MAPPING)
    docs = [{"id": 1, "v": 3.0},   # 3.0 == 3 in Mongo and Python
            {"id": 2, "v": 3},
            {"id": 3, "v": "3"},   # string "3" does NOT match numeric 3
            {"id": 4, "v": 4}]
    cat = SourceCatalog().register_collection(
        "docs", spark.createDataFrame([(json.dumps(d),) for d in docs],
                                      "content string"))
    out = SparkMaterializer(spark, mapping, cat).triples().collect()
    assert {r.subj for r in out} == {"<http://d/1>", "<http://d/2>"}


# ---------------------------------------------------------------------------
# per-TM OFFSET (datatranslation.offset compat)
# ---------------------------------------------------------------------------

SIMPLE_DOC_MAPPING = """
@prefix rr: <http://www.w3.org/ns/r2rml#> .
@prefix xrr: <http://i3s.unice.fr/xr2rml#> .
@prefix ex: <http://example.com/> .
<#T> xrr:logicalSource [ xrr:query "db.docs.find({})" ];
  rr:subjectMap [ rr:template "http://d/{$.id}" ];
  rr:predicateObjectMap [ rr:predicate ex:id; rr:objectMap [ xrr:reference "$.id" ] ].
"""


def test_tm_offset_and_limit(spark):
    mapping = MappingDocument.from_text(SIMPLE_DOC_MAPPING)
    docs = spark.createDataFrame(
        [(json.dumps({"id": i}),) for i in range(10)],
        "content string").coalesce(1)
    cat = SourceCatalog().register_collection("docs", docs)
    m = SparkMaterializer(spark, mapping, cat, tm_limit=3, tm_offset=2)
    subs = sorted(r.subj for r in m.triples().collect())
    assert subs == ["<http://d/2>", "<http://d/3>", "<http://d/4>"]
    # the slice counts documents that pass the find() filter, whether the
    # filter compiles to a Column ({t: "z"}) or runs in Python ({v: 2})
    docs = spark.createDataFrame(
        [(json.dumps({"id": i, "v": i % 3, "t": "xyz"[i % 3]}),)
         for i in range(9)],
        "content string").coalesce(1)
    cat = SourceCatalog().register_collection("c", docs)

    def doc_mapping(flt):
        return MappingDocument.from_text(SIMPLE_DOC_MAPPING.replace(
            "db.docs.find({})", f"db.c.find({flt})"))

    for flt in ("{t: 'z'}", "{v: 2}"):
        for kw, want in (({"tm_limit": 2}, ["<http://d/2>", "<http://d/5>"]),
                         ({"tm_offset": 1, "tm_limit": 1}, ["<http://d/5>"])):
            m = SparkMaterializer(spark, doc_mapping(flt), cat, **kw)
            subs = sorted(r.subj for r in m.triples().collect())
            assert subs == want, (flt, kw)
    # equality is typed, as in Mongo: the string '2' matches no number
    m = SparkMaterializer(spark, doc_mapping("{v: '2'}"), cat, tm_limit=2)
    assert m.triples().count() == 0


def test_properties_offset_parsed():
    from morph_xr2rml_spark.properties import MorphProperties
    p = MorphProperties.from_text(
        "datatranslation.limit=5\ndatatranslation.offset=7\n")
    assert p.tm_limit == 5 and p.tm_offset == 7


# ---------------------------------------------------------------------------
# materializer cache cleanup
# ---------------------------------------------------------------------------

def test_materializer_cleanup_unpersists(spark):
    mapping = MappingDocument.from_text(NOCOND_DOC_MAPPING)
    cat = SourceCatalog()
    cat.register_collection("a", spark.createDataFrame(
        [(json.dumps({"id": 1}),)], "content string"))
    cat.register_collection("b", spark.createDataFrame(
        [(json.dumps({"id": 1, "name": "n"}),)], "content string"))
    release(spark)                           # earlier tests' persists
    m = SparkMaterializer(spark, mapping, cat)
    m.triples().collect()
    live = session_state(spark)["persisted"]
    assert live                              # child stage was cached
    cached = live[0]
    assert cached.storageLevel.useMemory or cached.storageLevel.useDisk
    m.cleanup()
    assert not live
    assert not (cached.storageLevel.useMemory or cached.storageLevel.useDisk)
