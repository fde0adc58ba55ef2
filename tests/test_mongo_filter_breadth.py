"""Round-3 find() filter breadth (VERDICT r2 item 5): $or, $regex
(incl. shell /pat/flags literals), numeric $in, $nin, $elemMatch.

The reference ships the filter verbatim to MongoDB
(MongoDBQuery.scala:67-90), so all of these work there; here the Python
fallback evaluates them with Mongo semantics and $or additionally
compiles to a SQL predicate.  The internal pushdown operators ($lexIn,
$renderIn, $renderPat, $numCmp) compile to SQL too; their row selection
is checked against the Python evaluator on adversarial documents.
"""

import json

import pytest
from pyspark.sql import functions as F

from morph_xr2rml_spark.mongo_filter import (compile_filter,
                                             normalize_filter_text,
                                             parse_filter)
from morph_xr2rml_spark.native_json import compilable
from morph_xr2rml_spark.sources import mongo_filter_sql, mongo_filter_to_column


def _f(text):
    return compile_filter(parse_filter(text))


def test_or_python():
    f = _f("{$or: [{a: 1}, {b: 'x'}]}")
    assert f({"a": 1}) and f({"b": "x"}) and f({"a": 1, "b": "y"})
    assert not f({"a": 2, "b": "y"}) and not f({})


def test_regex_python():
    f = _f("{name: {$regex: '^Al'}}")
    assert f({"name": "Alice"}) and not f({"name": "Bob"})
    assert not f({"name": 3}) and not f({})
    # case-insensitive via $options
    f = _f("{name: {$regex: '^al', $options: 'i'}}")
    assert f({"name": "Alice"})
    # array values: any string element may match
    f = _f("{tags: {$regex: 'ark'}}")
    assert f({"tags": ["spark", "sql"]}) and not f({"tags": ["flink"]})


def test_regex_shell_literal():
    # shell form /pat/flags normalizes to {$regex, $options}
    norm = normalize_filter_text("{name: /^al/i}")
    assert '"$regex"' in norm and '"$options"' in norm
    f = _f("{name: /^al/i}")
    assert f({"name": "Alice"}) and not f({"name": "Bob"})


def test_in_with_numbers():
    f = _f("{v: {$in: [1, 2.5, 'x']}}")
    assert f({"v": 1}) and f({"v": 2.5}) and f({"v": "x"})
    # Mongo numeric equality is cross-representation: 1.0 matches 1
    assert f({"v": 1.0})
    assert not f({"v": 3}) and not f({})


def test_nin_matches_missing_field():
    f = _f("{v: {$nin: [1, 2]}}")
    assert f({"v": 3}) and f({})           # missing field matches $nin
    assert not f({"v": 1})


def test_elem_match_document_form():
    f = _f("{items: {$elemMatch: {qty: {$gt: 5}, sku: 'a'}}}")
    assert f({"items": [{"qty": 10, "sku": "a"}]})
    assert not f({"items": [{"qty": 10, "sku": "b"},
                            {"qty": 2, "sku": "a"}]})
    assert not f({"items": "notalist"}) and not f({})


def test_elem_match_operator_form():
    f = _f("{scores: {$elemMatch: {$gt: 80, $lt: 90}}}")
    assert f({"scores": [75, 85]})
    assert not f({"scores": [75, 95]})


def test_native_or_column(spark):
    col = mongo_filter_to_column("{$or: [{a: 'x'}, {b: 'y'}]}", "content")
    assert col is not None
    df = spark.createDataFrame(
        [('{"a": "x"}',), ('{"b": "y"}',), ('{"a": "z"}',), ("{}",)],
        "content string")
    got = sorted(r.content for r in df.where(col).collect())
    assert got == ['{"a": "x"}', '{"b": "y"}']


def test_native_or_falls_back_when_branch_unsupported():
    # a numeric-eq branch can't compile natively → whole $or falls back
    assert mongo_filter_to_column("{$or: [{a: 1}, {b: 'y'}]}",
                                  "content") is None
    # $regex stays on the Python path (native can't tell "3" from 3)
    assert mongo_filter_to_column("{a: {$regex: 'x'}}", "content") is None


def test_python_native_parity_on_or(spark):
    """The same $or filter through the SQL predicate and the Python
    fallback must select the same documents."""
    import json
    docs = [{"a": "x"}, {"b": "y"}, {"a": "z", "b": "y"}, {}, {"a": "y"}] \
        + _TYPED_PROBE
    text = "{$or: [{a: 'x'}, {b: 'y'}]}"
    pyf = _f(text)
    want = sorted(json.dumps(d) for d in docs if pyf(d))
    df = spark.createDataFrame([(json.dumps(d),) for d in docs],
                               "content string")
    col = mongo_filter_to_column(text, "content")
    got = sorted(r.content for r in df.where(col).collect())
    assert got == want


# one value per JSON type whose get_json_object text collides with
# another's: '7' (number 7, string "7"), 'true' (true, "true"), NULL
# (null, missing field)
_TYPED_PROBE = [{"a": 7}, {"a": "7"}, {"a": True}, {"a": "true"},
                {"a": None}, {}]

_EQUALITY_FILTERS = ["{a: 'x'}", "{a: 'y'}", "{a: {$eq: 'x'}}",
                     "{a: {$ne: 'x'}}", "{a: {$in: ['x', 'z']}}",
                     "{a: {$ne: 'y'}, b: 'y'}",
                     # Python only: the text compare is not typed equality
                     "{a: '7'}", "{a: true}", "{a: 'true'}", "{a: null}",
                     "{a: {$eq: 7}}", "{a: {$ne: '7'}}", "{a: {$ne: null}}",
                     "{a: {$in: ['x', '7']}}", "{a: {$in: ['x', false]}}",
                     "{a: '[1]'}", "{a: {$eq: '{}'}}"]


@pytest.mark.parametrize("text", _EQUALITY_FILTERS)
def test_equality_filters_are_typed(spark, text):
    """Scalar, $eq, $ne and $in equality compile to SQL only where
    comparing get_json_object text is Mongo's typed equality, and then
    select what mongo_filter.py selects."""
    docs = [{"a": "x"}, {"b": "y"}, {"a": "z", "b": "y"}, {"a": "y"}] \
        + _TYPED_PROBE
    sql = mongo_filter_sql(text, "content")
    assert (sql is None) == (_EQUALITY_FILTERS.index(text) >= 6), text
    if sql is None:
        return
    df = spark.createDataFrame(
        [(i, json.dumps(d)) for i, d in enumerate(docs)],
        "i int, content string")
    got = sorted(r.i for r in df.where(F.expr(sql)).collect())
    pyf = _f(text)
    assert got == [i for i, d in enumerate(docs) if pyf(d)], text


def test_native_ok_parity_with_column_compiler():
    """Routing: a find() TM is json-native compilable exactly when its
    filter compiles to SQL (one compiler decides both)."""
    filters = [
        "{}", "{a: 'x'}", "{a: 1}", "{a: {$exists: true}}",
        "{a: {$eq: 'x'}}", "{a: {$eq: 3}}", "{a: {$ne: 'x'}}",
        "{a: {$ne: 3}}", "{a: {$gt: 5}}", "{a: {$gt: 'x'}}",
        "{a: {$in: ['x', 'y']}}", "{a: {$in: [1, 'y']}}",
        "{$and: [{a: 'x'}, {b: {$lt: 2}}]}",
        "{$or: [{a: 'x'}, {b: 'y'}]}",
        "{$or: [{a: 1}, {b: 'y'}]}",
        "{$or: []}",
        "{a: {$regex: 'x'}}", "{a: /x/i}",
        "{a: {$elemMatch: {b: 1}}}", "{a: {$nin: ['x']}}",
        "{'a.b.c': 'deep'}",
        "{a: {$lexIn: ['7', 7]}}", "{a: {$renderIn: ['7.5']}}",
        "{a: {$renderPat: ['strstarts', 'x']}}",
        "{a: {$renderPat: ['prefix', 'x']}}",
        "{a: {$numCmp: {'>': 5}}}", "{a: {$numCmp: {'!=': 5}}}",
        "{a: {$numCmp: {'>': '5'}}}",
    ]
    expect_sql = {"{}", "{a: 'x'}", "{a: {$exists: true}}",
                  "{a: {$eq: 'x'}}", "{a: {$ne: 'x'}}", "{a: {$gt: 5}}",
                  "{a: {$in: ['x', 'y']}}",
                  "{$and: [{a: 'x'}, {b: {$lt: 2}}]}",
                  "{$or: [{a: 'x'}, {b: 'y'}]}", "{'a.b.c': 'deep'}",
                  "{a: {$lexIn: ['7', 7]}}", "{a: {$renderIn: ['7.5']}}",
                  "{a: {$renderPat: ['strstarts', 'x']}}",
                  "{a: {$numCmp: {'>': 5}}}"}
    for text in filters:
        sql = mongo_filter_sql(text, "content")
        assert (sql is not None) == (text in expect_sql), text
        assert compilable(_find_tm(text)) == (sql is not None), text


# adversarial values for the internal operators: padding (ASCII and
# NBSP), underscores encode_literal collapses, quotes and backslashes
# the N-Triples escape doubles, numeric spellings whose canonical
# lexical differs from the raw text, a boolean, NULL and a missing field
_ADVERSARIAL = [
    {"a": "  7  "}, {"a": "\xa07\xa0"}, {"a": "\t7.5\n"}, {"a": "7"},
    {"a": 7}, {"a": "7.50"}, {"a": 7.5}, {"a": 1e3}, {"a": "1e3"},
    {"a": -2}, {"a": "a__b"}, {"a": "a_b"}, {"a": " a__b "},
    {"a": "q\"uo'te"}, {"a": "back\\slash"}, {"a": "back/slash"},
    {"a": True}, {"a": "true"}, {"a": None}, {}, {"b": "7"},
    {"a": "Cu#1"}, {"a": " Cu#1"},
]

_INTERNAL_FILTERS = [
    {"a": {"$lexIn": ["7", "7.5", "1000.0", "a__b", "true", "-2",
                      "q\"uo'te", "back\\slash", "  7  "]}},
    {"a": {"$lexIn": [7, True]}},
    {"a": {"$renderIn": ["7", "7.5", "a_b", "true", "back/slash",
                         "q\"uo'te", "1000", "Cu#1"]}},
    {"a": {"$renderIn": [7.5, -2]}},
    {"a": {"$renderPat": ["strstarts", "7"]}},
    {"a": {"$renderPat": ["strstarts", "Cu"]}},
    {"a": {"$renderPat": ["strends", "0"]}},
    {"a": {"$renderPat": ["strends", "b"]}},
    {"a": {"$renderPat": ["contains", "_b"]}},
    {"a": {"$renderPat": ["contains", "q\\\""]}},
    {"a": {"$renderPat": ["contains", "/"]}},
    {"a": {"$numCmp": {">": 7}}},
    {"a": {"$numCmp": {"=": 7.5}}},
    {"a": {"$numCmp": {">=": 1000, "<": 1001}}},
    {"a": {"$numCmp": {"<": 0}}},
    {"a": {"$numCmp": {"<=": 7}}},
]


@pytest.mark.parametrize("spec", _INTERNAL_FILTERS,
                         ids=[json.dumps(f) for f in _INTERNAL_FILTERS])
def test_internal_operators_match_python_evaluator(spark, spec):
    """The SQL predicate of each internal pushdown operator selects the
    same documents as mongo_filter.py's evaluator."""
    text = json.dumps(spec)
    sql = mongo_filter_sql(text, "content")
    assert sql is not None, text
    df = spark.createDataFrame(
        [(i, json.dumps(d)) for i, d in enumerate(_ADVERSARIAL)],
        "i int, content string")
    got = sorted(r.i for r in df.where(F.expr(sql)).collect())
    pyf = _f(text)
    want = [i for i, d in enumerate(_ADVERSARIAL) if pyf(d)]
    assert got == want, [(i, _ADVERSARIAL[i])
                         for i in sorted(set(got) ^ set(want))]


_FIND_TM = """
@prefix rr: <http://www.w3.org/ns/r2rml#> .
@prefix xrr: <http://i3s.unice.fr/xr2rml#> .
@prefix rml: <http://semweb.mmlab.be/ns/rml#> .
@prefix ex: <http://example.com/> .
<#TM> a rr:TriplesMap;
  xrr:logicalSource [ xrr:query "db.c.find(FILTER)";
                      rml:iterator "$.xs.*" ];
  rr:subjectMap [ rr:template "http://e/{$.t}" ];
  rr:predicateObjectMap [ rr:predicate ex:y;
                          rr:objectMap [ xrr:reference "$.y" ] ].
"""


def _find_tm(flt):
    from morph_xr2rml_spark.model import MappingDocument
    m = MappingDocument.from_text(_FIND_TM.replace("FILTER", flt))
    return list(m.triples_maps.values())[0]


def test_json_native_routing_respects_filter(spark):
    """A TM whose find() needs the Python fallback must leave the
    json-native tier (it would scan unfiltered there) — and an empty /
    native filter must stay, session or not."""
    tm_for = _find_tm
    assert compilable(tm_for("{}"))
    assert compilable(tm_for("{a: 'x'}"))
    assert not compilable(tm_for("{a: {$regex: 'x'}}"))
    assert not compilable(tm_for("{a: 3}"))
    assert not compilable(tm_for("{$or: [{a: 1}, {b: 'y'}]}"))


def test_size_operator():
    # shape from the reference's example dump:
    # db.movies2.find({actors: {$size: 2, $elemMatch: {$eq: "T. Leung"}}})
    f = _f('{actors: {$size: 2, $elemMatch: {$eq: "T. Leung"}}}')
    assert f({"actors": ["T. Leung", "G. Li"]})
    assert not f({"actors": ["M. Cheung"]})            # wrong size
    assert not f({"actors": ["A", "B"]})               # no match
    assert not f({"actors": "T. Leung"}) and not f({})
    # $size stays on the Python path
    assert mongo_filter_sql("{a: {$size: 2}}", "content") is None
