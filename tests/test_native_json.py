"""JSON-native compiler: must emit EXACTLY what the Python document
compiler emits for static-path mappings, with no Python in the plan."""

import json

import pytest

from morph_xr2rml_spark.engine import SparkMaterializer
from morph_xr2rml_spark.local_engine import materialize_local
from morph_xr2rml_spark.model import MappingDocument
from morph_xr2rml_spark.native_json import compilable
from morph_xr2rml_spark.sources import SourceCatalog

from conftest import tier_pool

SIMPLE = """
@prefix rr: <http://www.w3.org/ns/r2rml#> .
@prefix rml: <http://semweb.mmlab.be/ns/rml#> .
@prefix xrr: <http://i3s.unice.fr/xr2rml#> .
@prefix ex: <http://example.com/> .
<#Lines>
    xrr:logicalSource [ xrr:query "db.orderdocs.find({})";
                        rml:iterator "$.lines.*";
                        xrr:pushDown [ xrr:reference "$.ok"; xrr:as "ok" ] ];
    rr:subjectMap [ rr:template "http://example.org/line/{$.ok}-{$.ln}"; rr:class ex:Line ];
    rr:predicateObjectMap [ rr:predicate ex:qty; rr:objectMap [ xrr:reference "$.qty" ] ];
    rr:predicateObjectMap [ rr:predicate ex:flag; rr:objectMap [ xrr:reference "$.flag" ] ];
    rr:predicateObjectMap [ rr:predicate ex:part;
                            rr:objectMap [ rr:template "http://example.org/part/{$.pk}" ] ].
"""

DOCS = [
    {"ok": 1, "lines": [{"ln": 1, "pk": 10, "qty": 5, "flag": True},
                        {"ln": 2, "pk": 20, "qty": 2, "flag": False}]},
    {"ok": 2, "lines": [{"ln": 1, "pk": 10, "qty": 7}]},
    {"ok": 3, "lines": []},
]

JOIN_MAPPING = """
@prefix rr: <http://www.w3.org/ns/r2rml#> .
@prefix rml: <http://semweb.mmlab.be/ns/rml#> .
@prefix xrr: <http://i3s.unice.fr/xr2rml#> .
@prefix ex: <http://example.com/> .
<#Child>
    xrr:logicalSource [ xrr:query "db.c.find({})" ];
    rr:subjectMap [ rr:template "http://x/c/{$.id}" ];
    rr:predicateObjectMap [ rr:predicate ex:ref;
      rr:objectMap [ rr:parentTriplesMap <#Parent>;
                     rr:joinCondition [ rr:child "$.pid"; rr:parent "$.id" ] ] ].
<#Parent>
    xrr:logicalSource [ xrr:query "db.p.find({})" ];
    rr:subjectMap [ rr:template "http://x/p/{$.id}" ];
    rr:predicateObjectMap [ rr:predicate ex:v; rr:objectMap [ xrr:reference "$.v" ] ].
"""


def _catalog(spark, name, docs):
    return SourceCatalog().register_collection(
        name, spark.createDataFrame([(json.dumps(d),) for d in docs],
                                    "content string"))


def test_compilable_detection():
    m = MappingDocument.from_text(SIMPLE)
    assert compilable(m.triples_maps["#Lines"])
    from fixtures_data import MAPPING1_PATH
    m1 = MappingDocument.from_file(MAPPING1_PATH)
    # mapping1 has nested term maps and RdfLists → NOT json-native
    assert not compilable(m1.triples_maps["#Students"])


def test_json_native_equals_document_compiler(spark):
    mapping = MappingDocument.from_text(SIMPLE)
    cat = _catalog(spark, "orderdocs", DOCS)
    got = {tuple(r) for r in
           tier_pool(spark, mapping, "json", catalog=cat).collect()}
    want = materialize_local(mapping, {"orderdocs": DOCS})
    assert got == want
    # types: qty long → xsd:integer, flag → xsd:boolean
    objs = {o for (s, p, o, g) in got if p == "<http://example.com/qty>"}
    assert '"5"^^<http://www.w3.org/2001/XMLSchema#integer>' in objs
    flags = {o for (s, p, o, g) in got if p == "<http://example.com/flag>"}
    assert '"true"^^<http://www.w3.org/2001/XMLSchema#boolean>' in flags


def test_json_native_no_python_in_plan(spark):
    mapping = MappingDocument.from_text(SIMPLE)
    cat = _catalog(spark, "orderdocs", DOCS)
    plan = tier_pool(spark, mapping, "json", catalog=cat) \
        ._jdf.queryExecution().executedPlan().toString()
    assert "ArrowEvalPython" not in plan and "MapInPandas" not in plan
    assert "Generate explode" in plan or "Generate" in plan


def test_json_native_rom_join(spark):
    mapping = MappingDocument.from_text(JOIN_MAPPING)
    c_docs = [{"id": 1, "pid": 10}, {"id": 2, "pid": 99}]
    p_docs = [{"id": 10, "v": "x"}, {"id": 11, "v": "y"}]
    cat = SourceCatalog()
    cat.register_collection("c", spark.createDataFrame(
        [(json.dumps(d),) for d in c_docs], "content string"))
    cat.register_collection("p", spark.createDataFrame(
        [(json.dumps(d),) for d in p_docs], "content string"))
    got = {tuple(r) for r in
           tier_pool(spark, mapping, "json", catalog=cat).collect()}
    want = materialize_local(mapping, {"c": c_docs, "p": p_docs})
    assert got == want
    refs = {(s, o) for (s, p, o, g) in got if p.endswith("ref>")}
    assert refs == {("<http://x/c/1>", "<http://x/p/10>")}


def test_corpus_mapping_json_native_equals_doc_engine(spark):
    """The headline corpus mapping through both compilers at sf0.001."""
    from morph_xr2rml_spark.examples import LINEITEM_JSON_MAPPING, orderdocs_df
    mapping = MappingDocument.from_text(LINEITEM_JSON_MAPPING)
    docs = orderdocs_df(spark, "/root/testdata/sf0.001")
    assert compilable(mapping.triples_maps["#Lines"])
    cat1 = SourceCatalog().register_collection("orderdocs", docs)
    cat2 = SourceCatalog().register_collection("orderdocs", docs)
    native = {tuple(r) for r in
              tier_pool(spark, mapping, "json", catalog=cat1).collect()}
    pyudf = {tuple(r) for r in
             SparkMaterializer(spark, mapping, cat2).triples().collect()}
    assert native == pyudf


GRAPH_DOC_MAPPING = """
@prefix rr:  <http://www.w3.org/ns/r2rml#> .
@prefix xrr: <http://i3s.unice.fr/xr2rml#> .
@prefix ex:  <http://example.com/> .
<#D> a rr:TriplesMap;
    xrr:logicalSource [ xrr:query "db.docs.find({})" ];
    rr:subjectMap [ rr:template "http://example.org/d/{$.id}";
                    rr:class ex:Doc;
                    rr:graphMap [ rr:template "http://example.org/g/{$.ga}" ] ];
    rr:predicateObjectMap [ rr:predicate ex:v;
                            rr:objectMap [ xrr:reference "$.val" ];
                            rr:graphMap [ rr:constant ex:gd ] ];
    rr:predicateObjectMap [
        rr:predicate ex:ref;
        rr:objectMap [ rr:parentTriplesMap <#P>;
                       rr:joinCondition [ rr:child "$.pk"; rr:parent "$.k" ] ] ].
<#P> a rr:TriplesMap;
    xrr:logicalSource [ xrr:query "db.parents.find({})" ];
    rr:subjectMap [ rr:template "http://example.org/p/{$.k}" ].
"""


def test_json_native_graph_quads_match_python_tier(spark):
    """Named graphs on the json-native tier (late r6): subject ∪ POM
    target-graph expansion with the Python tier's null-render fallback
    (a missing graph field drops that graph; all-missing → default),
    ROM quads in the subject graphs, and a subject-only parent TM
    emitting nothing — byte-parity against the document engine."""
    import json as _json
    from morph_xr2rml_spark.engine import SparkMaterializer
    from morph_xr2rml_spark.native_json import compilable
    from morph_xr2rml_spark.sources import SourceCatalog
    docs = [_json.dumps(d) for d in [
        {"id": 1, "ga": "x", "val": "A", "pk": 10},
        {"id": 2, "val": "B", "pk": 20},        # ga missing
        {"id": 3, "ga": "y", "val": "C", "pk": 99},   # dangling ref
    ]]
    parents = [_json.dumps({"k": 10}), _json.dumps({"k": 20})]
    cat = SourceCatalog()
    cat.register_collection("docs", spark.createDataFrame(
        [(d,) for d in docs], "content string"))
    cat.register_collection("parents", spark.createDataFrame(
        [(p,) for p in parents], "content string"))
    mapping = MappingDocument.from_text(GRAPH_DOC_MAPPING)
    assert compilable(mapping.triples_maps["#D"])
    got = sorted(tuple(r) for r in
                 tier_pool(spark, mapping, "json", catalog=cat).collect())
    want = sorted(tuple(r) for r in
                  SparkMaterializer(spark, mapping, cat).triples()
                  .collect())
    assert got == want and len(got) == 10
    graphs = {r[3] for r in got}
    assert "<http://example.com/gd>" in graphs
    assert "<http://example.org/g/x>" in graphs
    assert None in graphs                       # id=2 class/ref quads


def test_schema_sampling_cached_on_catalog(spark):
    """The schema-inference sampling collect() runs once per (source,
    path-set) PER CATALOG, not per compiler instance — repeated point
    queries over the same registered data skip the driver job."""
    import time
    from morph_xr2rml_spark.native_json import JsonNativeCompiler
    from morph_xr2rml_spark.sources import SourceCatalog
    import json as _json
    docs = [_json.dumps({"id": i, "v": i * 2}) for i in range(50)]
    cat = SourceCatalog().register_collection(
        "c", spark.createDataFrame([(d,) for d in docs], "content string"))
    M = """
@prefix rr:  <http://www.w3.org/ns/r2rml#> .
@prefix xrr: <http://i3s.unice.fr/xr2rml#> .
@prefix ex:  <http://example.com/> .
<#T> a rr:TriplesMap;
    xrr:logicalSource [ xrr:query "db.c.find({})" ];
    rr:subjectMap [ rr:template "http://example.org/t/{$.id}" ];
    rr:predicateObjectMap [ rr:predicate ex:v;
                            rr:objectMap [ xrr:reference "$.v" ] ].
"""
    mapping = MappingDocument.from_text(M)
    tm = mapping.triples_maps["#T"]
    s1 = JsonNativeCompiler(spark, mapping, cat)._schema_for(tm)
    t0 = time.time()
    s2 = JsonNativeCompiler(spark, mapping, cat)._schema_for(tm)
    assert time.time() - t0 < 0.05      # no sampling job on the rerun
    assert s1 == s2
    # a different path set misses the cache (no false sharing)
    M2 = M.replace('xrr:reference "$.v"', 'xrr:reference "$.id"')
    m2 = MappingDocument.from_text(M2)
    s3 = JsonNativeCompiler(spark, m2, cat)._schema_for(
        m2.triples_maps["#T"])
    assert "v" not in s3.fieldNames()


def test_answering_persists_nothing(spark):
    """An answering plan over a json-native source caches nothing: no
    InMemoryRelation in its plan, and running it leaves the session's
    persisted-RDD count where it was, so no later call can read (or a
    long-lived session accumulate) a frame this call made."""
    from test_examples_oracle import SF_DIR

    from morph_xr2rml_spark import examples
    jsc = spark.sparkContext._jsc.sc()
    # other tests' RDDs may leave asynchronously (ContextCleaner), so
    # the count may fall while this runs, but must not rise
    before = jsc.getPersistentRDDs().size()
    df = examples.sparql_pushdown_doclit(spark, SF_DIR)
    df.collect()
    assert jsc.getPersistentRDDs().size() <= before
    assert "InMemoryRelation" not in \
        df._jdf.queryExecution().optimizedPlan().toString()


def test_cleanup_releases_python_tier_rom_persists(spark):
    """A document-tier TM with a ROM persists its child stage; the routed
    plan drops the SparkMaterializer that made it, so the persist must be
    owned by the session, or nothing can ever release it."""
    from morph_xr2rml_spark.api import _routed_plan, answer_auto
    from morph_xr2rml_spark.engine import release
    mapping = MappingDocument.from_text(JOIN_MAPPING.replace(
        '''    rr:subjectMap [ rr:template "http://x/c/{$.id}" ];''',
        '''    rr:subjectMap [ rr:template "http://x/c/{$.id}" ];
    rr:predicateObjectMap [ rr:predicate ex:tag;
      rr:objectMap [ xrr:reference "$.tags[*]" ] ];'''))
    cat = SourceCatalog()
    cat.register_collection("c", spark.createDataFrame(
        [(json.dumps({"id": i, "pid": 10, "tags": ["a", "b"]}),)
         for i in range(1, 4)], "content string"))
    cat.register_collection("p", spark.createDataFrame(
        [(json.dumps({"id": 10, "v": "x"}),)], "content string"))
    assert _routed_plan(spark, mapping, cat)[1] == {"#Child": "doc",
                                                    "#Parent": "json"}
    release(spark)          # reset anything earlier tests persisted
    jsc = spark.sparkContext._jsc.sc()
    for i in (1, 2, 3):
        rows = answer_auto(spark, mapping, "SELECT ?p ?o WHERE "
                           f"{{ <http://x/c/{i}> ?p ?o }}",
                           catalog=cat).collect()
        assert len(rows) == 3          # two tags + the ROM reference
    mid = jsc.getPersistentRDDs().size()
    released = release(spark)
    assert released >= 3
    assert jsc.getPersistentRDDs().size() <= mid - released
