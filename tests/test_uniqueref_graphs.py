"""uniqueref fixture (FIXTURES.md §5 — TAXREF-like) + named graph maps."""

import json

import pytest

from morph_xr2rml_spark.engine import SparkMaterializer
from morph_xr2rml_spark.local_engine import materialize_local
from morph_xr2rml_spark.model import MappingDocument
from morph_xr2rml_spark.sources import SourceCatalog

# TAXREF-like: many triples maps over the SAME collection distinguished
# only by a filter on 'rang', parent joins on the unique codeTaxon
# (xr2rml_taxrefv8-normalized.ttl:37-41,189-342 shape)
TAXREF_MAPPING = """
@prefix rr:  <http://www.w3.org/ns/r2rml#> .
@prefix xrr: <http://i3s.unice.fr/xr2rml#> .
@prefix ex:  <http://example.com/> .

<#Kingdom>
    a rr:TriplesMap;
    xrr:logicalSource [ xrr:query "db.taxa.find({rang: 'KD'})";
                        xrr:uniqueRef "$.codeTaxon" ];
    rr:subjectMap [ rr:template "http://taxref.mnhn.fr/{$.codeTaxon}"; rr:class ex:Kingdom ];
    rr:predicateObjectMap [ rr:predicate ex:name; rr:objectMap [ xrr:reference "$.nomComplet" ] ].

<#Phylum>
    a rr:TriplesMap;
    xrr:logicalSource [ xrr:query "db.taxa.find({rang: 'PH'})";
                        xrr:uniqueRef "$.codeTaxon" ];
    rr:subjectMap [ rr:template "http://taxref.mnhn.fr/{$.codeTaxon}"; rr:class ex:Phylum ];
    rr:predicateObjectMap [ rr:predicate ex:name; rr:objectMap [ xrr:reference "$.nomComplet" ] ];
    rr:predicateObjectMap [
        rr:predicate ex:parent;
        rr:objectMap [ rr:parentTriplesMap <#Kingdom>;
                       rr:joinCondition [ rr:child "$.codeReference"; rr:parent "$.codeTaxon" ] ];
    ].

<#Class>
    a rr:TriplesMap;
    xrr:logicalSource [ xrr:query "db.taxa.find({rang: 'CL'})";
                        xrr:uniqueRef "$.codeTaxon" ];
    rr:subjectMap [ rr:template "http://taxref.mnhn.fr/{$.codeTaxon}"; rr:class ex:Class ];
    rr:predicateObjectMap [
        rr:predicate ex:parent;
        rr:objectMap [ rr:parentTriplesMap <#Phylum>;
                       rr:joinCondition [ rr:child "$.codeReference"; rr:parent "$.codeTaxon" ] ];
    ].
"""


def _taxa():
    docs = [{"codeTaxon": "KD1", "codeReference": "KD1", "rang": "KD",
             "nomComplet": "Animalia"}]
    for p in range(3):
        docs.append({"codeTaxon": f"PH{p}", "codeReference": "KD1",
                     "rang": "PH", "nomComplet": f"Phylum {p}"})
        for c in range(4):
            docs.append({"codeTaxon": f"CL{p}-{c}", "codeReference": f"PH{p}",
                         "rang": "CL", "nomComplet": f"Class {p}.{c}"})
    return docs


def test_taxref_tree_local():
    mapping = MappingDocument.from_text(TAXREF_MAPPING)
    assert mapping.triples_maps["#Kingdom"].logical_source.unique_refs == \
        ["$.codeTaxon"]
    triples = materialize_local(mapping, {"taxa": _taxa()})
    spo = {(s, p, o) for (s, p, o, g) in triples}
    # every phylum parents to the kingdom; every class to its phylum
    assert (("<http://taxref.mnhn.fr/PH1>", "<http://example.com/parent>",
             "<http://taxref.mnhn.fr/KD1>")) in spo
    assert (("<http://taxref.mnhn.fr/CL2-3>", "<http://example.com/parent>",
             "<http://taxref.mnhn.fr/PH2>")) in spo
    n_parent = sum(1 for (s, p, o) in spo if p.endswith("parent>"))
    assert n_parent == 3 + 12


def test_taxref_spark_parity_and_scan_reuse(spark):
    mapping = MappingDocument.from_text(TAXREF_MAPPING)
    docs = [json.dumps(d) for d in _taxa()]
    df = spark.createDataFrame([(d,) for d in docs], "content string")
    cat = SourceCatalog().register_collection("taxa", df)
    out = SparkMaterializer(spark, mapping, cat).triples()
    got = {tuple(r) for r in out.collect()}
    want = materialize_local(mapping, {"taxa": _taxa()})
    assert got == want
    # all six scans (3 TMs + 3 parent extractions) come from ONE registered
    # DataFrame — the engine's scan-reuse analogue of the reference's
    # query-result cache (MorphMongoDataSourceReader.scala:96-113)
    df2, _ = cat.resolve(mapping.triples_maps["#Kingdom"].logical_source)
    df3, _ = cat.resolve(mapping.triples_maps["#Phylum"].logical_source)
    # same underlying plan root (same registered collection object)
    assert df2.columns == df3.columns == ["content", "_seq"]


GRAPH_MAPPING = """
@prefix rr:  <http://www.w3.org/ns/r2rml#> .
@prefix xrr: <http://i3s.unice.fr/xr2rml#> .
@prefix ex:  <http://example.com/> .

<#T>
    a rr:TriplesMap;
    xrr:logicalSource [ xrr:query "db.d.find({})" ];
    rr:subjectMap [ rr:template "http://x/{$.k}";
                    rr:graphMap [ rr:constant ex:g1 ] ];
    rr:predicateObjectMap [
        rr:predicate ex:p;
        rr:objectMap [ xrr:reference "$.v" ];
        rr:graphMap [ rr:template "http://graphs/{$.part}" ];
    ].
"""


def test_named_graphs_local_and_spark(spark):
    mapping = MappingDocument.from_text(GRAPH_MAPPING)
    docs = [{"k": 1, "v": "a", "part": "p0"}, {"k": 2, "v": "b", "part": "p1"}]
    triples = materialize_local(mapping, {"d": docs})
    graphs = {g for (s, p, o, g) in triples}
    # subject graph + POM graphs both apply (materializeQuads semantics)
    assert "<http://example.com/g1>" in graphs
    assert "<http://graphs/p0>" in graphs and "<http://graphs/p1>" in graphs
    assert None not in graphs  # every triple lands in a named graph here

    df = spark.createDataFrame([(json.dumps(d),) for d in docs],
                               "content string")
    cat = SourceCatalog().register_collection("d", df)
    got = {tuple(r) for r in
           SparkMaterializer(spark, mapping, cat).triples().collect()}
    assert got == triples
