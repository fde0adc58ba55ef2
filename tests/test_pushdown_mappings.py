"""mapping3/4/5 semantics: xrr:pushDown in term maps and logical sources,
iterator over a whole array (slidewiki shape), flattening rules."""

import json

import pytest
from fixtures_data import MOVIES_JSON, STUDENTS, STUDENTS_JSON

from morph_xr2rml_spark.local_engine import materialize_local
from morph_xr2rml_spark.model import MappingDocument

from conftest import requires_reference

pytestmark = requires_reference

REF = "/root/reference/morph-xr2rml-dist/example_mongo"
EX = "http://example.com/"
OID_SMITH = "547f2a2b31f7a44bec07b21f"

SLIDES = [
    {"_id": 29935,
     "revisions": [
         {"id": 1, "usage": [{"id": 5, "revision": 2}, {"id": 6, "revision": 1}]},
         {"id": 2},
     ]},
]


def _list_members(triples, head):
    spo = {}
    for (s, p, o, g) in triples:
        spo.setdefault(s, {})[p] = o
    RDF = "http://www.w3.org/1999/02/22-rdf-syntax-ns#"
    out, node = [], head
    while node != f"<{RDF}nil>":
        out.append(spo[node][f"<{RDF}first>"])
        node = spo[node][f"<{RDF}rest>"]
    return out


def test_mapping3_pushdown_in_term_map():
    mapping = MappingDocument.from_file(f"{REF}/mapping3.ttl")
    triples = materialize_local(mapping, {"students": STUDENTS})
    subj = f"<http://example.org/student/{OID_SMITH}>"
    heads = [o for (s, p, o, g) in triples
             if s == subj and p == f"<{EX}names>"]
    assert len(heads) == 1
    members = _list_members(triples, heads[0])
    xsd = "http://www.w3.org/2001/XMLSchema#string"
    assert members == [f'"{OID_SMITH} Paul Smith"^^<{xsd}>',
                       f'"{OID_SMITH} Jack Smith"^^<{xsd}>']


def test_mapping4_pushdown_in_logical_source():
    mapping = MappingDocument.from_file(f"{REF}/mapping4.ttl")
    triples = materialize_local(mapping, {"students": STUDENTS})
    subj = f"<http://example.org/student/{OID_SMITH}>"
    names = sorted(o for (s, p, o, g) in triples
                   if s == subj and p == f"<{EX}names>")
    # template with explicit Literal term type, no datatype
    assert names == [f'"{OID_SMITH} Jack Smith"', f'"{OID_SMITH} Paul Smith"']
    # subject built from the pushed-down field
    assert any(s == subj and p.endswith("#type>") for (s, p, o, g) in triples)


def test_mapping5_slidewiki_array_iterator():
    mapping = MappingDocument.from_file(f"{REF}/mapping5.ttl")
    triples = materialize_local(mapping, {"slides2": SLIDES})
    spo = {(s, p, o) for (s, p, o, g) in triples}
    s1 = "<http://example.org/sliderevision/29935-R1>"
    assert (s1, f"<{EX}inDeckRevision>",
            "<http://example.org/deckrevision/5-R2>") in spo
    assert (s1, f"<{EX}inDeckRevision>",
            "<http://example.org/deckrevision/6-R1>") in spo
    # revision 2 has no usage → no triples for it
    assert not any("29935-R2" in s for (s, p, o) in spo)


def test_mapping5_spark_parity(spark):
    from morph_xr2rml_spark.engine import SparkMaterializer
    from morph_xr2rml_spark.sources import SourceCatalog
    mapping = MappingDocument.from_file(f"{REF}/mapping5.ttl")
    docs = [json.dumps(d) for d in SLIDES]
    cat = SourceCatalog().register_collection(
        "slides2", spark.createDataFrame([(d,) for d in docs], "content string"))
    got = {tuple(r) for r in
           SparkMaterializer(spark, mapping, cat).triples().collect()}
    want = materialize_local(mapping, {"slides2": SLIDES})
    assert got == want


def test_mapping3_mapping4_spark_parity(spark):
    from morph_xr2rml_spark.engine import SparkMaterializer
    from morph_xr2rml_spark.sources import SourceCatalog
    for m in ("mapping3.ttl", "mapping4.ttl"):
        mapping = MappingDocument.from_file(f"{REF}/{m}")
        cat = SourceCatalog().register_collection(
            "students",
            spark.createDataFrame([(d,) for d in STUDENTS_JSON], "content string"))
        got = {tuple(r) for r in
               SparkMaterializer(spark, mapping, cat).triples().collect()}
        want = materialize_local(mapping, {"students": STUDENTS})
        assert got == want, m
