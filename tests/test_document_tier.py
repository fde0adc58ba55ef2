"""The Python document tier, one path per job: ``SparkMaterializer``'s
``triples()`` and ``ResumableMaterializer.run`` emit what the
single-process ``local_engine`` emits, and the resumable sink counts each
triples map's rows while it writes them instead of re-reading them.
The ROM child stages the tier persists belong to the session that made
them and are released by ``release`` (and after each resumable TM)."""

import json
import os
import uuid

import pytest

from morph_xr2rml_spark.engine import (SparkMaterializer, dedup_triples,
                                       release, session_state)
from morph_xr2rml_spark.local_engine import materialize_local
from morph_xr2rml_spark.model import MappingDocument
from morph_xr2rml_spark.sink import ResumableMaterializer
from morph_xr2rml_spark.sources import SourceCatalog

PRE = """
@prefix rr:  <http://www.w3.org/ns/r2rml#> .
@prefix rml: <http://semweb.mmlab.be/ns/rml#> .
@prefix xrr: <http://i3s.unice.fr/xr2rml#> .
@prefix ex:  <http://example.com/> .
"""

# ROM-free with an iterator: order 1 lists line 1 twice, so the TM emits
# duplicate triples that only the dedup removes
ITER_MAPPING = PRE + """
<#Lines> xrr:logicalSource [ xrr:query "db.orders.find({})";
        rml:iterator "$.lines.*";
        xrr:pushDown [ xrr:reference "$.ok"; xrr:as "ok" ] ];
    rr:subjectMap [ rr:template "http://x/line/{$.ok}-{$.ln}";
                    rr:class ex:Line ];
    rr:predicateObjectMap [ rr:predicate ex:qty;
                            rr:objectMap [ xrr:reference "$.qty" ] ].
"""
ORDERS = [json.dumps(d) for d in (
    {"ok": 1, "lines": [{"ln": 1, "qty": 5}, {"ln": 1, "qty": 5},
                        {"ln": 2, "qty": 7}]},
    {"ok": 2, "lines": [{"ln": 1, "qty": 3}]},
    {"ok": 3, "lines": []})] + ["{not json"]

# a plain ROM and an rdf:List ROM, each side behind a find() filter only
# the Python tier evaluates ($regex)
ROM_MAPPING = PRE + """
<#Child> xrr:logicalSource [
        xrr:query "db.c.find({tag: {$regex: '^a'}})" ];
    rr:subjectMap [ rr:template "http://x/c/{$.id}" ];
    rr:predicateObjectMap [ rr:predicate ex:first;
        rr:objectMap [ rr:parentTriplesMap <#Parent>;
                       rr:joinCondition [ rr:child "$.k0"; rr:parent "$.k" ] ] ];
    rr:predicateObjectMap [ rr:predicate ex:all;
        rr:objectMap [ rr:parentTriplesMap <#Parent>;
                       rr:joinCondition [ rr:child "$.ks.*"; rr:parent "$.k" ];
                       rr:termType xrr:RdfList ] ].
<#Parent> xrr:logicalSource [
        xrr:query "db.p.find({name: {$regex: 'o'}})" ];
    rr:subjectMap [ rr:template "http://x/p/{$.k}" ];
    rr:predicateObjectMap [ rr:predicate ex:name;
                            rr:objectMap [ xrr:reference "$.name" ] ].
"""
C_DOCS = [json.dumps(d) for d in (
    {"id": 1, "tag": "ab", "k0": 10, "ks": [20, 10, 99]},
    {"id": 2, "tag": "b", "k0": 10, "ks": [10]},
    {"id": 3, "tag": "ax", "k0": 30, "ks": [30, 40]})] + ["{not json"]
P_DOCS = [json.dumps(d) for d in (
    {"k": 10, "name": "one"}, {"k": 20, "name": "two"},
    {"k": 30, "name": "three"}, {"k": 40, "name": "four"})]

CASES = {"iterator": (ITER_MAPPING, {"orders": ORDERS}),
         "rom_collection": (ROM_MAPPING, {"c": C_DOCS, "p": P_DOCS})}


def _catalog(spark, sources):
    cat = SourceCatalog()
    for name, docs in sources.items():
        cat.register_collection(name, spark.createDataFrame(
            [(d,) for d in docs], "content string").coalesce(1))
    return cat


def _out_dir(tmp_path) -> str:
    return os.path.join(str(tmp_path), uuid.uuid4().hex)


@pytest.mark.parametrize("case", sorted(CASES))
def test_python_tier_matches_local_engine(spark, tmp_path, case):
    text, sources = CASES[case]
    mapping = MappingDocument.from_text(text)
    want = materialize_local(mapping, sources)
    assert want
    sm = SparkMaterializer(spark, mapping, _catalog(spark, sources))
    assert {tuple(r) for r in sm.triples().collect()} == want
    sm.cleanup()
    rm = ResumableMaterializer(spark, mapping, _catalog(spark, sources),
                               _out_dir(tmp_path))
    manifest = rm.run()
    got = [tuple(r) for r in rm.triples()
           .select("subj", "pred", "obj", "graph").collect()]
    assert set(got) == want
    # the manifest counts exactly the rows stored
    assert sum(e["triples"] for e in manifest["triples_maps"].values()) \
        == len(got)


def _jobs(spark, run) -> int:
    """The number of Spark jobs ``run()`` submits."""
    sc = spark.sparkContext
    group = uuid.uuid4().hex
    sc.setJobGroup(group, "job count")
    try:
        run()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return len(sc.statusTracker().getJobIdsForGroup(group))


def test_resumable_counts_while_writing(spark, tmp_path):
    """The manifest's count comes from the write itself: ``run()``
    submits no more jobs than writing the TMs' deduplicated triples
    alone (a re-read and count would add at least one per TM), and it
    still equals the stored row count on a TM with duplicate triples."""
    mapping = MappingDocument.from_text(ITER_MAPPING)
    cat = _catalog(spark, {"orders": ORDERS})
    sm = SparkMaterializer(spark, mapping, cat)

    def write_only():
        for tm in mapping.triples_maps.values():
            dedup_triples(sm._tm_triples(tm)).write.mode("overwrite") \
                .parquet(_out_dir(tmp_path))

    out = _out_dir(tmp_path)
    rm = ResumableMaterializer(spark, mapping, cat, out)
    manifest = {}
    run_jobs = _jobs(spark, lambda: manifest.update(
        rm.run(record_lineage=False)))
    assert run_jobs <= _jobs(spark, write_only)
    (entry,) = manifest["triples_maps"].values()
    stored = spark.read.parquet(os.path.join(out, "tm=Lines")).count()
    raw = SparkMaterializer(spark, mapping, cat).triples(dedup=False).count()
    assert entry["triples"] == stored == 6 < raw


def _persisted_rdds(spark) -> int:
    return spark.sparkContext._jsc.sc().getPersistentRDDs().size()


def _cached(df) -> bool:
    return df.storageLevel.useMemory or df.storageLevel.useDisk


def test_resumable_run_leaves_nothing_persisted(spark, tmp_path):
    """Each ROM TM's child stage is released once its triples are
    written and committed.  Other tests' RDDs may leave asynchronously
    (ContextCleaner), so the count may fall during the run, but must
    not rise."""
    mapping = MappingDocument.from_text(ROM_MAPPING)
    cat = _catalog(spark, {"c": C_DOCS, "p": P_DOCS})
    before = _persisted_rdds(spark)
    ResumableMaterializer(spark, mapping, cat, _out_dir(tmp_path)).run()
    assert _persisted_rdds(spark) <= before


def test_sessions_do_not_share_persists(spark):
    """A persist belongs to the session that made it: releasing another
    session on the same SparkContext leaves it cached, releasing its
    own session frees it."""
    mapping = MappingDocument.from_text(ROM_MAPPING)
    release(spark)
    SparkMaterializer(spark, mapping, _catalog(
        spark, {"c": C_DOCS, "p": P_DOCS})).triples().collect()
    (child,) = session_state(spark)["persisted"]
    assert release(spark.newSession()) == 0
    assert _cached(child)
    assert release(spark) == 1
    assert not _cached(child)
