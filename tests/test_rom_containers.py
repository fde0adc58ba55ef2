"""Container-typed (RdfBag) refobjectmap results — local and Spark."""

import json

from morph_xr2rml_spark.engine import SparkMaterializer
from morph_xr2rml_spark.local_engine import materialize_local
from morph_xr2rml_spark.model import MappingDocument
from morph_xr2rml_spark.sources import SourceCatalog

RDF = "http://www.w3.org/1999/02/22-rdf-syntax-ns#"
MAPPING = """
@prefix rr: <http://www.w3.org/ns/r2rml#> .
@prefix xrr: <http://i3s.unice.fr/xr2rml#> .
@prefix ex: <http://example.com/> .
<#Child>
    xrr:logicalSource [ xrr:query "db.c.find({})" ];
    rr:subjectMap [ rr:template "http://x/c/{$.id}" ];
    rr:predicateObjectMap [ rr:predicate ex:refs;
      rr:objectMap [ rr:parentTriplesMap <#Parent>;
                     rr:joinCondition [ rr:child "$.ks.*"; rr:parent "$.k" ];
                     rr:termType xrr:RdfBag ] ].
<#Parent>
    xrr:logicalSource [ xrr:query "db.p.find({})" ];
    rr:subjectMap [ rr:template "http://x/p/{$.k}" ].
"""

C_DOCS = [{"id": 1, "ks": [10, 20, 99]}, {"id": 2, "ks": []}]
P_DOCS = [{"k": 10}, {"k": 20}, {"k": 30}]


def test_rom_bag_local():
    mapping = MappingDocument.from_text(MAPPING)
    triples = materialize_local(mapping, {"c": C_DOCS, "p": P_DOCS})
    spo = {(s, p, o) for (s, p, o, g) in triples}
    heads = [o for (s, p, o) in spo
             if s == "<http://x/c/1>" and p == "<http://example.com/refs>"]
    assert len(heads) == 1
    h = heads[0]
    assert (h, f"<{RDF}type>", f"<{RDF}Bag>") in spo
    assert (h, f"<{RDF}_1>", "<http://x/p/10>") in spo
    assert (h, f"<{RDF}_2>", "<http://x/p/20>") in spo
    # unmatched key 99 contributes nothing; child 2 has no bag at all
    assert not any(s == "<http://x/c/2>" for (s, p, o) in spo)


def test_rom_bag_spark_parity(spark):
    mapping = MappingDocument.from_text(MAPPING)
    cat = SourceCatalog()
    for name, docs in (("c", C_DOCS), ("p", P_DOCS)):
        cat.register_collection(name, spark.createDataFrame(
            [(json.dumps(d),) for d in docs], "content string"))
    got = {tuple(r) for r in
           SparkMaterializer(spark, mapping, cat).triples().collect()}
    want = materialize_local(mapping, {"c": C_DOCS, "p": P_DOCS})
    assert got == want
