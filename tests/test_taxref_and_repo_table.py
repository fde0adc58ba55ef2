"""Real-world robustness: the reference's production TAXREF mappings
(149 triples maps each) parse and compile; the canonical
(repo, path, commit, lang, content) input table works end-to-end."""

import json

import pytest
from pyspark.sql import functions as F

from morph_xr2rml_spark.engine import SparkMaterializer
from morph_xr2rml_spark.lineage import integrity_violations
from morph_xr2rml_spark.model import MappingDocument
from morph_xr2rml_spark.sources import SourceCatalog
from morph_xr2rml_spark.translate import CompiledTriplesMap, EngineConfig

from conftest import requires_reference

pytestmark = requires_reference

TAXREF_DIR = "/root/reference/morph-xr2rml-dist/example_taxref_rewriting"


@pytest.mark.parametrize("version", ["v8", "v9"])
def test_taxref_production_mapping_parses_and_compiles(version):
    doc = MappingDocument.from_file(
        f"{TAXREF_DIR}/xr2rml_taxref{version}-normalized.ttl")
    assert len(doc.triples_maps) > 100
    # every TM compiles (term maps, templates, msp paths all valid)
    cfg = EngineConfig()
    for tm in doc.triples_maps.values():
        ctm = CompiledTriplesMap(tm, cfg, 0)
        assert ctm.subject is not None
    # uniqueRef hints surface for scan-reuse planning
    assert all(tm.logical_source.unique_refs
               for tm in doc.triples_maps.values())


def test_taxref_subset_materializes():
    """Materialize a few of the real TAXREF triples maps against
    synthetic taxon docs."""
    doc = MappingDocument.from_file(
        f"{TAXREF_DIR}/xr2rml_taxrefv8-normalized.ttl")
    from morph_xr2rml_spark.local_engine import materialize_local
    from morph_xr2rml_spark.model import parse_mongo_query
    # find TMs over a collection we can synthesize
    names = list(doc.triples_maps)[:5]
    subset = MappingDocument(
        {n: doc.triples_maps[n] for n in names}, doc.prefixes)
    colls = {parse_mongo_query(doc.triples_maps[n].logical_source.value)[0]
             for n in names}
    docs = [{"codeTaxon": f"T{i}", "codeReference": "T0",
             "rang": ["KD", "PH", "CL", "OR", "FM"][i % 5],
             "nomComplet": f"Taxon {i}"} for i in range(20)]
    sources = {c: docs for c in colls}
    triples = materialize_local(subset, sources)
    assert isinstance(triples, set)  # runs without error; filters may be empty


def test_canonical_repo_table_end_to_end(spark):
    """BASELINE.json input_hint shape: (repo, path, commit, lang, content)
    with per-row sha1 integrity, collections by path prefix."""
    docs = [{"k": i, "v": f"val{i}"} for i in range(6)]
    rows = []
    for i, d in enumerate(docs):
        content = json.dumps(d)
        coll = "alpha" if i % 2 == 0 else "beta"
        rows.append(("acme/data", f"{coll}/{i:04d}.json", None, "json", content))
    df = spark.createDataFrame(
        rows, "repo string, path string, commit string, lang string, content string"
    ).withColumn("commit", F.sha1(F.col("content")))

    # per-row invariant holds
    assert integrity_violations(df).count() == 0

    cat = SourceCatalog().register_repo_table(df)
    mapping = MappingDocument.from_text("""
    @prefix rr: <http://www.w3.org/ns/r2rml#> .
    @prefix xrr: <http://i3s.unice.fr/xr2rml#> .
    @prefix ex: <http://example.com/> .
    <#A> xrr:logicalSource [ xrr:query "db.alpha.find({})" ];
      rr:subjectMap [ rr:template "http://x/a/{$.k}"; rr:class ex:A ].
    <#B> xrr:logicalSource [ xrr:query "db.beta.find({})" ];
      rr:subjectMap [ rr:template "http://x/b/{$.k}"; rr:class ex:B ].
    """)
    got = {(r.subj, r.obj) for r in
           SparkMaterializer(spark, mapping, cat).triples().collect()}
    assert got == {(f"<http://x/a/{i}>", "<http://example.com/A>")
                   for i in (0, 2, 4)} | \
                  {(f"<http://x/b/{i}>", "<http://example.com/B>")
                   for i in (1, 3, 5)}
