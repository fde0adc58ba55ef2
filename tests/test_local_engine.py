"""End-to-end semantics tests for the per-document translation core,
via the single-process materializer (the executable spec the Spark
engine must match)."""

import json
import pathlib

from fixtures_data import MAPPING1_PATH, MOVIES, STUDENTS

from morph_xr2rml_spark.local_engine import materialize_local, to_ntriples
from morph_xr2rml_spark.model import MappingDocument

from conftest import requires_reference

pytestmark = requires_reference

EX = "http://example.com/"
S = "http://example.org/student/"


def _mat(mapping_text=None):
    doc = (MappingDocument.from_text(mapping_text) if mapping_text
           else MappingDocument.from_file(MAPPING1_PATH))
    return materialize_local(doc, {"students": STUDENTS, "movies": MOVIES})


def test_against_golden_fixture():
    triples = _mat()
    golden = set()
    golden_nt = (pathlib.Path(__file__).resolve().parent.parent
                 / "fixtures" / "students_movies_golden.nt")
    with open(golden_nt) as f:
        for line in f:
            line = line.strip()
            if line:
                golden.add(line)
    ours = {line for line in to_ntriples(triples).splitlines() if line}
    missing = golden - ours
    extra = ours - golden
    assert not missing and not extra, f"missing={missing}\nextra={extra}"


def test_key_semantics():
    triples = _mat()
    spo = {(s, p, o) for (s, p, o, g) in triples}

    # subject template + $oid special case + rr:class
    assert (f"<{S}547f2a2b31f7a44bec07b21f>",
            "<http://www.w3.org/1999/02/22-rdf-syntax-ns#type>",
            f"<{EX}Student>") in spo

    # implicit datatypes from JSON types
    assert (f"<{S}547f2a2b31f7a44bec07b221>", f"<{EX}hasId>",
            '"13"^^<http://www.w3.org/2001/XMLSchema#integer>') in spo
    assert (f"<{S}547f2a2b31f7a44bec07b221>", f"<{EX}isActive>",
            '"false"^^<http://www.w3.org/2001/XMLSchema#boolean>') in spo

    # multi-valued reference with static language
    assert (f"<{S}547f2a2b31f7a44bec07b21f>", f"<{EX}activity>", '"Swimming"@en') in spo
    assert (f"<{S}547f2a2b31f7a44bec07b21f>", f"<{EX}activity>", '"Calcio"@en') in spo

    # xrr:languageReference overrides static language when present
    assert (f"<{S}547f2a2b31f7a44bec07b21f>",
            f"<{EX}activityWithVariableLang>", '"Calcio"@it') in spo
    assert (f"<{S}547f2a2b31f7a44bec07b21f>",
            f"<{EX}activityWithVariableLang>", '"Swimming"@en') in spo

    # IRI encoding of unsafe chars in template values
    assert any(s == "<http://example.org/movies/In%20the%20Mood%20for%20Love>"
               for (s, p, o) in spo)

    # join: The Grandmaster has no parent movie doc -> absent everywhere
    assert not any("Grandmaster" in o for (_s, _p, o) in spo)


def _list_members(triples, head):
    """Follow rdf:first/rdf:rest from a list head."""
    spo = {}
    for (s, p, o, g) in triples:
        spo.setdefault(s, {})[p] = o
    RDF = "http://www.w3.org/1999/02/22-rdf-syntax-ns#"
    out = []
    node = head
    while node != f"<{RDF}nil>":
        out.append(spo[node][f"<{RDF}first>"])
        node = spo[node][f"<{RDF}rest>"]
    return out


def test_rdf_list_assembly_and_order():
    triples = _mat()
    # ex:names for Smith: cartesian template expansion in order
    heads = [o for (s, p, o, g) in triples
             if s == f"<{S}547f2a2b31f7a44bec07b21f>" and p == f"<{EX}names>"]
    assert len(heads) == 1
    members = _list_members(triples, heads[0])
    assert members == [
        '"Paul Smith"^^<http://www.w3.org/2001/XMLSchema#string>',
        '"Jack Smith"^^<http://www.w3.org/2001/XMLSchema#string>']


def test_join_list_in_parent_order():
    triples = _mat()
    wong = "<http://example.org/director/Wong%20Kar-wai>"
    heads = [o for (s, p, o, g) in triples
             if s == wong and p == f"<{EX}directed>"]
    assert len(heads) == 1
    members = _list_members(triples, heads[0])
    # parent (movies) result-set order: 2046 before In the Mood for Love
    assert members == ["<http://example.org/movies/2046>",
                       "<http://example.org/movies/In%20the%20Mood%20for%20Love>"]


def test_weird_chars_literal_encoding():
    triples = _mat()
    foo_names = [o for (s, p, o, g) in triples
                 if s == f"<{S}547f2a2b31f7a44bec07b221>" and p == f"<{EX}names>"]
    members = _list_members(triples, foo_names[0])
    # golden-faithful: raw quote kept (N-Triples-escaped), matching
    # result1.txt:21 / result4.txt
    assert members[1] == '"#{[|`^@]\\" Foo"^^<http://www.w3.org/2001/XMLSchema#string>'


def test_template_all_groups_empty_yields_no_term():
    mapping = """
    @prefix rr: <http://www.w3.org/ns/r2rml#> .
    @prefix xrr: <http://i3s.unice.fr/xr2rml#> .
    @prefix ex: <http://example.com/> .
    <#T> a rr:TriplesMap;
      xrr:logicalSource [ xrr:query "db.students.find({})" ];
      rr:subjectMap [ rr:template "http://x/{$._id}" ];
      rr:predicateObjectMap [
        rr:predicate ex:p;
        rr:objectMap [ rr:template "v/{$.missing}" ];
      ].
    """
    triples = _mat(mapping)
    assert not any("<http://example.com/p>" == p for (_s, p, _o, _g) in triples)


def test_dedup_set_semantics():
    # identical docs produce one triple set (Jena model set semantics)
    mapping = """
    @prefix rr: <http://www.w3.org/ns/r2rml#> .
    @prefix xrr: <http://i3s.unice.fr/xr2rml#> .
    @prefix ex: <http://example.com/> .
    <#T> a rr:TriplesMap;
      xrr:logicalSource [ xrr:query "db.dup.find({})" ];
      rr:subjectMap [ rr:template "http://x/{$.k}" ];
      rr:predicateObjectMap [
        rr:predicate ex:p;
        rr:objectMap [ xrr:reference "$.v" ];
      ].
    """
    doc = MappingDocument.from_text(mapping)
    docs = [json.dumps({"k": 1, "v": "a"})] * 3
    triples = materialize_local(doc, {"dup": docs})
    assert len(triples) == 1
