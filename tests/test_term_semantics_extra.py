"""Remaining term-map semantics: Bag/Seq/Alt containers, blank-node
subjects, multi-predicate × multi-object cross products, literal
constants with datatype, language precedence."""

import json

import pytest

from morph_xr2rml_spark.local_engine import materialize_local
from morph_xr2rml_spark.model import MappingDocument

RDF = "http://www.w3.org/1999/02/22-rdf-syntax-ns#"
PRE = """
@prefix rr: <http://www.w3.org/ns/r2rml#> .
@prefix xrr: <http://i3s.unice.fr/xr2rml#> .
@prefix ex: <http://example.com/> .
@prefix xsd: <http://www.w3.org/2001/XMLSchema#> .
"""


def _mat(mapping, docs):
    return materialize_local(MappingDocument.from_text(PRE + mapping),
                             {"d": docs})


def test_rdf_bag_container():
    triples = _mat("""
    <#T> xrr:logicalSource [ xrr:query "db.d.find({})" ];
      rr:subjectMap [ rr:template "http://x/{$.k}" ];
      rr:predicateObjectMap [ rr:predicate ex:names;
        rr:objectMap [ xrr:reference "$.names.*"; rr:termType xrr:RdfBag;
          xrr:nestedTermMap [ rr:termType rr:Literal; rr:datatype xsd:string ] ] ].
    """, [{"k": 1, "names": ["a", "b"]}])
    spo = {(s, p, o) for (s, p, o, g) in triples}
    heads = [o for (s, p, o) in spo if p == "<http://example.com/names>"]
    assert len(heads) == 1 and heads[0].startswith("_:")
    h = heads[0]
    assert (h, f"<{RDF}type>", f"<{RDF}Bag>") in spo
    assert (h, f"<{RDF}_1>",
            '"a"^^<http://www.w3.org/2001/XMLSchema#string>') in spo
    assert (h, f"<{RDF}_2>",
            '"b"^^<http://www.w3.org/2001/XMLSchema#string>') in spo


def test_rdf_seq_and_alt():
    for ttype, cls in (("RdfSeq", "Seq"), ("RdfAlt", "Alt")):
        triples = _mat(f"""
        <#T> xrr:logicalSource [ xrr:query "db.d.find({{}})" ];
          rr:subjectMap [ rr:template "http://x/{{$.k}}" ];
          rr:predicateObjectMap [ rr:predicate ex:v;
            rr:objectMap [ xrr:reference "$.vs.*"; rr:termType xrr:{ttype} ] ].
        """, [{"k": 1, "vs": ["x", "y"]}])
        spo = {(s, p, o) for (s, p, o, g) in triples}
        assert any(o == f"<{RDF}{cls}>" and p == f"<{RDF}type>"
                   for (s, p, o) in spo), ttype


def test_blank_node_subject():
    triples = _mat("""
    <#T> xrr:logicalSource [ xrr:query "db.d.find({})" ];
      rr:subjectMap [ rr:template "node {$.k}"; rr:termType rr:BlankNode ];
      rr:predicateObjectMap [ rr:predicate ex:p; rr:objectMap [ xrr:reference "$.v" ] ].
    """, [{"k": 7, "v": "val"}])
    subs = {s for (s, p, o, g) in triples}
    # bnode label is URL-encoded (RDFTermBlankNode(encodeUrl(value)))
    assert subs == {"_:node%207"}


def test_multi_predicate_multi_object_cross():
    triples = _mat("""
    <#T> xrr:logicalSource [ xrr:query "db.d.find({})" ];
      rr:subjectMap [ rr:template "http://x/{$.k}" ];
      rr:predicateObjectMap [
        rr:predicate ex:p1, ex:p2;
        rr:objectMap [ xrr:reference "$.a" ], [ xrr:reference "$.b" ];
      ].
    """, [{"k": 1, "a": "A", "b": "B"}])
    spo = {(p, o) for (s, p, o, g) in triples}
    # materializeQuads: predicates x objects full cross product
    assert spo == {
        ("<http://example.com/p1>", '"A"'), ("<http://example.com/p1>", '"B"'),
        ("<http://example.com/p2>", '"A"'), ("<http://example.com/p2>", '"B"')}


def test_constant_literal_with_datatype_and_language_precedence():
    triples = _mat("""
    <#T> xrr:logicalSource [ xrr:query "db.d.find({})" ];
      rr:subjectMap [ rr:template "http://x/{$.k}" ];
      rr:predicateObjectMap [ rr:predicate ex:c;
        rr:objectMap [ rr:constant "42"; rr:datatype xsd:integer ] ];
      rr:predicateObjectMap [ rr:predicate ex:l;
        rr:objectMap [ xrr:reference "$.v"; rr:language "fr";
                       rr:datatype xsd:string ] ].
    """, [{"k": 1, "v": "bonjour"}])
    objs = {o for (s, p, o, g) in triples if not p.endswith("type>")}
    assert '"42"^^<http://www.w3.org/2001/XMLSchema#integer>' in objs
    # language wins over datatype on the same literal
    assert '"bonjour"@fr' in objs


def test_spark_parity_containers(spark):
    from morph_xr2rml_spark.engine import SparkMaterializer
    from morph_xr2rml_spark.sources import SourceCatalog
    mapping = MappingDocument.from_text(PRE + """
    <#T> xrr:logicalSource [ xrr:query "db.d.find({})" ];
      rr:subjectMap [ rr:template "http://x/{$.k}" ];
      rr:predicateObjectMap [ rr:predicate ex:names;
        rr:objectMap [ xrr:reference "$.names.*"; rr:termType xrr:RdfBag;
          xrr:nestedTermMap [ rr:termType rr:Literal ] ] ].
    """)
    docs = [{"k": 1, "names": ["a", "b"]}, {"k": 2, "names": ["c"]}]
    df = spark.createDataFrame([(json.dumps(d),) for d in docs],
                               "content string")
    cat = SourceCatalog().register_collection("d", df)
    got = {tuple(r) for r in
           SparkMaterializer(spark, mapping, cat).triples().collect()}
    want = materialize_local(mapping, {"d": docs})
    assert got == want
