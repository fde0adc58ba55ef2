"""Spark engine end-to-end: must produce exactly the local-oracle triple set
(which is itself golden-tested against the reference semantics)."""

import json

import pytest
from fixtures_data import MAPPING1_PATH, MOVIES, MOVIES_JSON, STUDENTS, STUDENTS_JSON

from morph_xr2rml_spark.engine import SparkMaterializer
from morph_xr2rml_spark.local_engine import materialize_local
from morph_xr2rml_spark.model import MappingDocument
from morph_xr2rml_spark.sources import SourceCatalog

from conftest import requires_reference

pytestmark = requires_reference


def _spark_triples(spark, mapping, collections):
    catalog = SourceCatalog()
    for name, docs in collections.items():
        df = spark.createDataFrame([(d,) for d in docs], "content string")
        catalog.register_collection(name, df)
    out = SparkMaterializer(spark, mapping, catalog).triples()
    return {tuple(r) for r in out.collect()}


def test_mapping1_spark_equals_oracle(spark):
    mapping = MappingDocument.from_file(MAPPING1_PATH)
    got = _spark_triples(spark, mapping,
                         {"students": STUDENTS_JSON, "movies": MOVIES_JSON})
    want = materialize_local(mapping, {"students": STUDENTS, "movies": MOVIES})
    assert got == want
    assert len(got) == 50


def test_dedup_across_duplicate_docs(spark):
    mapping = MappingDocument.from_text("""
    @prefix rr: <http://www.w3.org/ns/r2rml#> .
    @prefix xrr: <http://i3s.unice.fr/xr2rml#> .
    @prefix ex: <http://example.com/> .
    <#T> xrr:logicalSource [ xrr:query "db.d.find({})" ];
      rr:subjectMap [ rr:template "http://x/{$.k}" ];
      rr:predicateObjectMap [ rr:predicate ex:p; rr:objectMap [ xrr:reference "$.v" ] ].
    """)
    docs = [json.dumps({"k": 1, "v": "a"})] * 5 + [json.dumps({"k": 2, "v": "b"})]
    got = _spark_triples(spark, mapping, {"d": docs})
    assert len(got) == 2


def test_bad_docs_are_skipped(spark):
    mapping = MappingDocument.from_text("""
    @prefix rr: <http://www.w3.org/ns/r2rml#> .
    @prefix xrr: <http://i3s.unice.fr/xr2rml#> .
    @prefix ex: <http://example.com/> .
    <#T> xrr:logicalSource [ xrr:query "db.d.find({})" ];
      rr:subjectMap [ rr:template "http://x/{$.k}" ];
      rr:predicateObjectMap [ rr:predicate ex:p; rr:objectMap [ xrr:reference "$.v" ] ].
    """)
    docs = ['{"k":1,"v":"a"}', "garbage{{{", '{"k":2,"v":"b"}', None]
    got = _spark_triples(spark, mapping, {"d": docs})
    assert len(got) == 2


def test_multi_join_condition_and(spark):
    """AND of two join conditions = parent-subject intersection."""
    mapping = MappingDocument.from_text("""
    @prefix rr: <http://www.w3.org/ns/r2rml#> .
    @prefix xrr: <http://i3s.unice.fr/xr2rml#> .
    @prefix ex: <http://example.com/> .
    <#Child> xrr:logicalSource [ xrr:query "db.c.find({})" ];
      rr:subjectMap [ rr:template "http://x/c/{$.id}" ];
      rr:predicateObjectMap [
        rr:predicate ex:ref;
        rr:objectMap [
          rr:parentTriplesMap <#Parent>;
          rr:joinCondition [ rr:child "$.a"; rr:parent "$.a" ];
          rr:joinCondition [ rr:child "$.b"; rr:parent "$.b" ];
        ];
      ].
    <#Parent> xrr:logicalSource [ xrr:query "db.p.find({})" ];
      rr:subjectMap [ rr:template "http://x/p/{$.id}" ].
    """)
    c_docs = [json.dumps({"id": 1, "a": "x", "b": "y"})]
    p_docs = [json.dumps({"id": 10, "a": "x", "b": "y"}),   # both match
              json.dumps({"id": 11, "a": "x", "b": "z"}),   # only a
              json.dumps({"id": 12, "a": "w", "b": "y"})]   # only b
    got = _spark_triples(spark, mapping, {"c": c_docs, "p": p_docs})
    objs = {o for (s, p, o, g) in got if p == "<http://example.com/ref>"}
    assert objs == {"<http://x/p/10>"}

    # oracle agreement
    want = materialize_local(
        MappingDocument.from_text("""
    @prefix rr: <http://www.w3.org/ns/r2rml#> .
    @prefix xrr: <http://i3s.unice.fr/xr2rml#> .
    @prefix ex: <http://example.com/> .
    <#Child> xrr:logicalSource [ xrr:query "db.c.find({})" ];
      rr:subjectMap [ rr:template "http://x/c/{$.id}" ];
      rr:predicateObjectMap [
        rr:predicate ex:ref;
        rr:objectMap [
          rr:parentTriplesMap <#Parent>;
          rr:joinCondition [ rr:child "$.a"; rr:parent "$.a" ];
          rr:joinCondition [ rr:child "$.b"; rr:parent "$.b" ];
        ];
      ].
    <#Parent> xrr:logicalSource [ xrr:query "db.p.find({})" ];
      rr:subjectMap [ rr:template "http://x/p/{$.id}" ].
    """), {"c": c_docs, "p": p_docs})
    assert got == want


def test_join_key_type_sensitivity(spark):
    """int 13 must not join with string '13' (Object equality semantics)."""
    mapping = MappingDocument.from_text("""
    @prefix rr: <http://www.w3.org/ns/r2rml#> .
    @prefix xrr: <http://i3s.unice.fr/xr2rml#> .
    @prefix ex: <http://example.com/> .
    <#Child> xrr:logicalSource [ xrr:query "db.c.find({})" ];
      rr:subjectMap [ rr:template "http://x/c/{$.id}" ];
      rr:predicateObjectMap [
        rr:predicate ex:ref;
        rr:objectMap [ rr:parentTriplesMap <#Parent>;
          rr:joinCondition [ rr:child "$.k"; rr:parent "$.k" ] ];
      ].
    <#Parent> xrr:logicalSource [ xrr:query "db.p.find({})" ];
      rr:subjectMap [ rr:template "http://x/p/{$.id}" ].
    """)
    c_docs = [json.dumps({"id": 1, "k": 13})]
    p_docs = [json.dumps({"id": 10, "k": 13}), json.dumps({"id": 11, "k": "13"})]
    got = _spark_triples(spark, mapping, {"c": c_docs, "p": p_docs})
    objs = {o for (s, p, o, g) in got if p == "<http://example.com/ref>"}
    assert objs == {"<http://x/p/10>"}
