"""SPARQL HTTP endpoint (the reference's Jetty SparqlEndpoint
equivalent): protocol GET/POST, content negotiation, ASK/CONSTRUCT."""

import json
import urllib.parse
import urllib.request

import pytest

from morph_xr2rml_spark.endpoint import serve

ROWS = [
    ("<http://ex/a>", "<http://ex/name>", '"Alice"', None),
    ("<http://ex/b>", "<http://ex/name>", '"Bob"', None),
    ("<http://ex/a>", "<http://ex/knows>", "<http://ex/b>", None),
]


@pytest.fixture(scope="module")
def ep(spark):
    df = spark.createDataFrame(
        ROWS, "subj string, pred string, obj string, graph string")
    ep = serve(df)
    yield ep
    ep.stop()


def _get(ep, query, accept="application/sparql-results+json"):
    url = ep.url + "?query=" + urllib.parse.quote(query)
    req = urllib.request.Request(url, headers={"Accept": accept})
    with urllib.request.urlopen(req) as r:
        return r.read().decode(), r.headers["Content-Type"]


def test_select_json_get(ep):
    body, ctype = _get(ep, "SELECT ?n WHERE { ?s <http://ex/name> ?n }")
    assert ctype.startswith("application/sparql-results+json")
    doc = json.loads(body)
    vals = {b["n"]["value"] for b in doc["results"]["bindings"]}
    assert vals == {"Alice", "Bob"}


def test_select_xml_and_csv(ep):
    body, ctype = _get(ep, "SELECT ?n WHERE { ?s <http://ex/name> ?n }",
                       accept="application/sparql-results+xml")
    assert ctype.startswith("application/sparql-results+xml")
    assert "<literal>Alice</literal>" in body
    body, ctype = _get(ep, "SELECT ?n WHERE { ?s <http://ex/name> ?n }",
                       accept="text/csv")
    assert "Alice" in body and ctype.startswith("text/csv")


def test_ask_and_construct(ep):
    body, _ = _get(ep, 'ASK { <http://ex/a> <http://ex/name> "Alice" }')
    assert json.loads(body)["boolean"] is True
    body, ctype = _get(
        ep, "CONSTRUCT { ?s <http://ex/friend> ?o } "
            "WHERE { ?s <http://ex/knows> ?o }", accept="text/turtle")
    assert ctype.startswith("text/turtle")
    assert "<http://ex/friend>" in body or "friend" in body


def test_post_form_and_raw(ep):
    data = urllib.parse.urlencode(
        {"query": "SELECT ?n WHERE { ?s <http://ex/name> ?n }"}).encode()
    req = urllib.request.Request(ep.url, data=data, method="POST",
                                 headers={"Content-Type":
                                          "application/x-www-form-urlencoded"})
    with urllib.request.urlopen(req) as r:
        assert "Alice" in r.read().decode()
    req = urllib.request.Request(
        ep.url, data=b"SELECT ?n WHERE { ?s <http://ex/name> ?n }",
        method="POST", headers={"Content-Type": "application/sparql-query"})
    with urllib.request.urlopen(req) as r:
        assert "Bob" in r.read().decode()


def test_bad_query_is_400(ep):
    url = ep.url + "?query=" + urllib.parse.quote("NOT A QUERY")
    try:
        urllib.request.urlopen(url)
        assert False, "expected HTTPError"
    except urllib.error.HTTPError as e:
        assert e.code == 400


def test_accept_wildcard_and_qvalues(ep):
    # */* → server default (JSON for SELECT)
    body, ctype = _get(ep, "SELECT ?n WHERE { ?s <http://ex/name> ?n }",
                       accept="*/*")
    assert ctype.startswith("application/sparql-results+json")
    json.loads(body)
    # application/* matches the application/... offers, beats text/csv
    _b, ctype = _get(ep, "SELECT ?n WHERE { ?s <http://ex/name> ?n }",
                     accept="application/*")
    assert ctype.startswith("application/sparql-results+json")
    # q-values: XML preferred over JSON
    _b, ctype = _get(
        ep, "SELECT ?n WHERE { ?s <http://ex/name> ?n }",
        accept="application/sparql-results+json;q=0.3, "
               "application/sparql-results+xml;q=0.9")
    assert ctype.startswith("application/sparql-results+xml")
    # q=0 excludes; next acceptable type wins
    _b, ctype = _get(
        ep, "SELECT ?n WHERE { ?s <http://ex/name> ?n }",
        accept="application/sparql-results+json;q=0, text/csv")
    assert ctype.startswith("text/csv")


def test_evaluation_error_is_500(ep, monkeypatch):
    # parseable query whose evaluation raises → 500, not 400
    monkeypatch.setattr(ep.engine, "evaluate",
                        lambda q: (_ for _ in ()).throw(RuntimeError("boom")))
    url = ep.url + "?query=" + urllib.parse.quote(
        "SELECT ?n WHERE { ?s <http://ex/name> ?n }")
    try:
        urllib.request.urlopen(url)
        assert False, "expected HTTPError"
    except urllib.error.HTTPError as e:
        assert e.code == 500


def test_select_row_cap(spark):
    rows = [(f"<http://ex/s{i}>", "<http://ex/p>", f'"v{i}"', None)
            for i in range(50)]
    df = spark.createDataFrame(
        rows, "subj string, pred string, obj string, graph string")
    ep2 = serve(df, cache=False)
    ep2.max_result_rows = 10
    try:
        body, _ = _get(ep2, "SELECT ?s ?o WHERE { ?s <http://ex/p> ?o }")
        assert len(json.loads(body)["results"]["bindings"]) == 10
    finally:
        ep2.stop()


def _persistent_rdds(spark) -> int:
    return spark.sparkContext._jsc.getPersistentRDDs().size()


def test_stop_unpersists_the_table_serve_cached(spark):
    start = _persistent_rdds(spark)
    df = spark.createDataFrame(
        ROWS, "subj string, pred string, obj string, graph string")
    ep2 = serve(df)
    try:
        # the first query fills the cache
        body, _ = _get(ep2, "SELECT ?n WHERE { ?s <http://ex/name> ?n }")
        assert len(json.loads(body)["results"]["bindings"]) == 2
        assert _persistent_rdds(spark) == start + 1
    finally:
        ep2.stop()
    assert _persistent_rdds(spark) == start
    assert not df.is_cached


@pytest.mark.parametrize("cache", [True, False])
def test_stop_leaves_the_callers_cache(spark, cache):
    df = spark.createDataFrame(
        ROWS, "subj string, pred string, obj string, graph string").cache()
    try:
        ep2 = serve(df, cache=cache)
        try:
            _get(ep2, "SELECT ?n WHERE { ?s <http://ex/name> ?n }")
        finally:
            ep2.stop()
        assert df.is_cached
    finally:
        df.unpersist()
