"""Property-based tests (hypothesis) for the pure semantic layers."""

import json
import string

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from morph_xr2rml_spark.functions.encoding import (decode_uri,
                                                   encode_reserved_chars,
                                                   encode_url)
from morph_xr2rml_spark.functions.templates import (cartesian_product,
                                                    compile_template,
                                                    expand_segments,
                                                    get_template_groups,
                                                    replace_template_groups)
from morph_xr2rml_spark.paths import JSONPath

_TEXT = st.text(alphabet=string.printable, max_size=40)
_SAFE = st.text(alphabet=string.ascii_letters + string.digits + "._-", min_size=1, max_size=12)


# decodeURI (GeneralUtility.scala:146-173) is intentionally PARTIAL: it
# only reverses %20-%2F and %25 — so the round-trip property holds only
# over that alphabet (hypothesis found the counterexample '[' → %5B,
# which decodeURI never reverses; faithful to the reference).
_DECODABLE = st.text(
    alphabet=string.ascii_letters + string.digits + " !\"#$&'()*+,-./%",
    max_size=40)


@given(_DECODABLE)
@settings(max_examples=200)
def test_encode_reserved_roundtrip_on_decodable_alphabet(s):
    assert decode_uri(encode_reserved_chars(s)) == s


@given(_TEXT)
@settings(max_examples=200)
def test_encode_url_idempotent_on_encoded(s):
    # encoding an already-encoded string changes nothing: the output
    # alphabet contains no characters encode_url touches except '%'
    once = encode_url(s)
    assert encode_url(once) == once


@given(st.lists(_SAFE, min_size=1, max_size=4), _SAFE)
@settings(max_examples=100)
def test_template_groups_extraction(groups, sep):
    tpl = sep + sep.join("{" + g + "}" for g in groups) + sep
    assert get_template_groups(tpl) == groups


@given(st.lists(st.lists(_SAFE, min_size=0, max_size=3),
                min_size=1, max_size=3))
@settings(max_examples=100)
def test_cartesian_size(lists):
    combos = cartesian_product(lists)
    expected = 1
    for lst in lists:
        expected *= max(len(lst), 1)
    assert len(combos) == expected


@given(st.lists(_SAFE, min_size=1, max_size=3),
       st.lists(_SAFE, min_size=1, max_size=3))
@settings(max_examples=100)
def test_segment_expansion_equals_regex_expansion(groups, values):
    groups = groups[:len(values)]
    values = values[:len(groups)]
    tpl = "x/" + "-".join("{" + g + "}" for g in groups)
    segs = compile_template(tpl)
    via_segments = expand_segments(segs, values)
    via_regex = replace_template_groups(tpl, [[v] for v in values])[0]
    assert via_segments == via_regex


@given(st.recursive(
    st.one_of(st.integers(-1000, 1000), st.booleans(),
              st.text(alphabet=string.ascii_letters, max_size=8)),
    lambda children: st.one_of(
        st.lists(children, max_size=3),
        st.dictionaries(st.sampled_from(["a", "b", "c", "d"]), children,
                        max_size=3)),
    max_leaves=10))
@settings(max_examples=150)
def test_jsonpath_simple_field_access(doc):
    # $.a equals dict access when present, [] otherwise
    res = JSONPath("$.a").evaluate_obj(doc)
    if isinstance(doc, dict) and "a" in doc:
        assert res == [doc["a"]]
    else:
        assert res == []


@given(st.dictionaries(st.sampled_from(["x", "y"]),
                       st.lists(st.integers(0, 9), max_size=4), max_size=2))
@settings(max_examples=100)
def test_jsonpath_wildcard_over_arrays(doc):
    res = JSONPath("$.x.*").evaluate_obj(doc)
    assert res == list(doc.get("x", []))


@given(_TEXT)
@settings(max_examples=100)
def test_jsonpath_never_raises_on_text(s):
    # suppress-exceptions semantics: arbitrary text never raises
    assert isinstance(JSONPath("$.a.b").evaluate(s), list)


# ---------------------------------------------------------------------------
# Round-5: template-inversion + render-mirror soundness (rewrite.py)
# ---------------------------------------------------------------------------

_SEP = st.sampled_from(["/", "-", ":", "_", ".", "~x~"])


@given(st.lists(st.text(alphabet=string.ascii_letters + string.digits,
                        min_size=1, max_size=8), min_size=1, max_size=3),
       _SEP, st.text(alphabet=string.ascii_letters, max_size=6))
@settings(max_examples=300, deadline=None)
def test_invert_template_never_wrong(values, sep, prefix):
    """Render a template then invert the rendered value: the inversion
    must be the exact group values or AMBIGUOUS — never a DIFFERENT
    parse (the soundness contract rewrite.py's pushdown relies on)."""
    from morph_xr2rml_spark.rewrite import AMBIGUOUS, invert_template
    groups = [f"g{i}" for i in range(len(values))]
    template = prefix + sep.join("{" + g + "}" for g in groups)
    rendered = prefix + sep.join(values)
    inv = invert_template(template, rendered)
    assert inv is not None                    # it WAS produced
    if isinstance(inv, dict):
        assert inv == dict(zip(groups, values))
    else:
        assert inv is AMBIGUOUS


_LIT_PART = st.text(alphabet=["a", "b", "_", " ", "\xa0", "\t", "\n", "\r",
                                "\\", '"'], max_size=5)


@given(st.lists(_LIT_PART, min_size=1, max_size=4), st.data(),
       st.booleans(), st.booleans())
@settings(max_examples=300, deadline=None)
def test_template_literal_prune_never_drops_a_render(fixed, data, trim,
                                                     quotes):
    """Whatever the group values and render settings, the lexical a
    template literal renders (encode_literal of the expanded value,
    trimmed when literal_trim is on) is never ruled out by the fixed-end
    check rewrite.py prunes template-literal TMs with."""
    from morph_xr2rml_spark.functions.encoding import encode_literal
    from morph_xr2rml_spark.rewrite import template_literal_may_render
    values = [data.draw(_LIT_PART) for _ in fixed[1:]]
    template = fixed[0] + "".join("{g%d}" % i + f
                                  for i, f in enumerate(fixed[1:]))
    expanded = fixed[0] + "".join(v + f for v, f in zip(values, fixed[1:]))
    lex = encode_literal(expanded.strip() if trim else expanded, quotes)
    assert template_literal_may_render(template, lex)


@given(st.one_of(st.integers(-10**6, 10**6),
                 st.floats(allow_nan=False, allow_infinity=False,
                           width=32),
                 st.booleans(), _TEXT,
                 st.lists(st.integers(0, 99), max_size=4),
                 st.dictionaries(_SAFE, st.integers(0, 99), max_size=3)))
@settings(max_examples=300, deadline=None)
def test_json_lex_matches_term_render_text(v):
    """mongo_filter._json_lex must agree with the doc-tier term-boundary
    text (_obj_to_text) — the $renderIn Python fallback and the engine
    render read the same lexical."""
    from morph_xr2rml_spark.mongo_filter import _json_lex
    from morph_xr2rml_spark.translate import _obj_to_text
    assert _json_lex(v) == _obj_to_text(v)


@given(st.one_of(st.integers(-10**6, 10**6), _TEXT),
       st.text(alphabet=string.ascii_letters + string.digits + "_",
               min_size=1, max_size=8))
@settings(max_examples=300, deadline=None)
def test_renderin_keeps_every_rendering_doc(v, field):
    # '.' excluded: it is the find() path separator by design
    """Soundness of the $renderIn operator: a document whose field
    RENDERS lexical L must be kept by {field: {$renderIn: [L]}}."""
    from morph_xr2rml_spark.functions.encoding import encode_literal
    from morph_xr2rml_spark.mongo_filter import _json_lex, compile_filter
    rendered = encode_literal(_json_lex(v).strip())
    pred = compile_filter({field: {"$renderIn": [rendered]}})
    assert pred({field: v})


@given(st.floats(allow_nan=False, allow_infinity=False, width=32),
       st.floats(allow_nan=False, allow_infinity=False, width=32))
@settings(max_examples=200, deadline=None)
def test_numcmp_python_op_matches_semantics(x, bound):
    from morph_xr2rml_spark.mongo_filter import compile_filter
    pred = compile_filter({"f": {"$numCmp": {">": bound}}})
    assert pred({"f": x}) == (x > bound)
    assert not pred({"f": "not-a-number"})
    assert not pred({})                        # missing field never matches


# ---------------------------------------------------------------------------
# Round-6: graph-context inversion soundness (rewrite.invert_graph_ctx)
# ---------------------------------------------------------------------------

@given(st.lists(st.text(alphabet=string.ascii_letters + string.digits,
                        min_size=1, max_size=8), min_size=1, max_size=2),
       _SEP,
       st.sampled_from(["default", "any", "iri"]),
       st.booleans())
@settings(max_examples=200, deadline=None)
def test_invert_graph_ctx_never_false_prunes(values, sep, ctx_kind,
                                             with_pom_graph):
    """A TM whose graph maps CAN render into the pattern's graph context
    must never come back None (no false TM elimination), and a derived
    conj must be exactly the rendering row's values (no wrong
    constraint) — the soundness contract the GRAPH pushdown relies on."""
    from morph_xr2rml_spark.model import MappingDocument
    from morph_xr2rml_spark.rewrite import AMBIGUOUS, invert_graph_ctx
    groups = [f"c{i}" for i in range(len(values))]
    tmpl = "http://g/" + sep.join("{" + g + "}" for g in groups)
    pom_graph = ('rr:graphMap [ rr:constant <http://g/const> ];'
                 if with_pom_graph else "")
    mapping = MappingDocument.from_text(f"""
@prefix rr: <http://www.w3.org/ns/r2rml#> .
@prefix ex: <http://example.com/> .
<#T> a rr:TriplesMap;
    rr:logicalTable [ rr:tableName "t" ];
    rr:subjectMap [ rr:template "http://s/{{{groups[0]}}}";
                    rr:graphMap [ rr:template "{tmpl}" ] ];
    rr:predicateObjectMap [ rr:predicate ex:v; {pom_graph}
                            rr:objectMap [ rr:column "v" ] ].
""")
    tm = mapping.triples_maps["#T"]
    rendered = "http://g/" + sep.join(values)
    if ctx_kind == "default":
        ctx = ("default",)
    elif ctx_kind == "any":
        ctx = ("any",)
    else:
        ctx = ("iri", rendered)
    res = invert_graph_ctx(tm, {"http://example.com/v"}, ctx)
    if ctx_kind == "default":
        if with_pom_graph:
            # the POM's CONSTANT graph map never renders NULL, so the
            # category provably never falls back to the default graph
            assert res is None
        else:
            # ADVICE r06 (high): a non-constant graph map can render
            # NULL per row, and an all-null render falls back to the
            # DEFAULT graph in all three compilers — pruning here would
            # silently drop results, so the TM must stay AMBIGUOUS
            assert res is AMBIGUOUS
    elif ctx_kind == "any":
        assert res is AMBIGUOUS
    else:
        # the template renders this graph for SOME row: never None
        assert res is not None
        if isinstance(res, dict):
            assert res == dict(zip(groups, values))


# ---------------------------------------------------------------------------
# Keyed dedup: the injectivity proof (native.term_key_refusal) against the
# Python tier's term rendering
# ---------------------------------------------------------------------------

def _key_domains():
    import datetime
    from decimal import Decimal

    from pyspark.sql import types as T
    # small value domains with NULL, negatives and shared digits, so that
    # a separator the parse cannot tell from a value shows as a collision
    return {
        T.LongType(): [None, -12, -2, -1, 0, 1, 2, 12, 21, 112],
        T.IntegerType(): [None, -1, 0, 1, 11, -11],
        T.BooleanType(): [None, True, False],
        T.DecimalType(4, 2): [None, Decimal("-1.50"), Decimal("0.00"),
                              Decimal("1.50"), Decimal("11.50")],
        T.DateType(): [None, datetime.date(2020, 1, 1),
                       datetime.date(2020, 1, 11), datetime.date(1, 1, 1)],
    }


_KEY_SEP = st.sampled_from(["-", "/", ".", "--", "-/", "t", "1", "e", "",
                            " ", "_", "%", "|", "+", ":"])
_TERM_TYPES = ("http://www.w3.org/ns/r2rml#IRI",
               "http://www.w3.org/ns/r2rml#Literal",
               "http://www.w3.org/ns/r2rml#BlankNode")


@st.composite
def _keyed_shape(draw):
    """A reference or template term over typed leaves $.g0..$.gN."""
    from morph_xr2rml_spark import namespaces as NS
    from morph_xr2rml_spark.model import REFERENCE, TEMPLATE, TermMap
    types = list(_key_domains())
    n = draw(st.integers(1, 3))
    dtypes = [draw(st.sampled_from(types)) for _ in range(n)]
    term_type = draw(st.sampled_from(_TERM_TYPES))
    datatype = draw(st.sampled_from([None, NS.XSD_BOOLEAN, NS.XSD_DATETIME]))
    if term_type != _TERM_TYPES[1]:
        datatype = None
    if n == 1 and draw(st.booleans()):
        m = TermMap(kind=REFERENCE, position="object", reference="$.g0",
                    term_type=term_type, datatype=datatype)
    else:
        seps = [draw(_KEY_SEP) for _ in range(n + 1)]
        template = seps[0] + "".join("{$.g%d}" % i + seps[i + 1]
                                     for i in range(n))
        m = TermMap(kind=TEMPLATE, position="object", template=template,
                    term_type=term_type, datatype=datatype)
    cfg = draw(st.builds(_cfg, st.booleans(), st.booleans(), st.booleans()))
    return m, dtypes, cfg


def _cfg(trim, enc_uri, enc_db):
    from morph_xr2rml_spark.translate import EngineConfig
    return EngineConfig(literal_trim=trim, encode_unsafe_chars_in_uri=enc_uri,
                        encode_unsafe_chars_in_db_values=enc_db)


def _refusal(m, dtypes, cfg):
    from morph_xr2rml_spark.native import term_key_refusal
    return term_key_refusal(m, lambda ref: dtypes[int(ref[3:])], cfg)


@given(_keyed_shape())
@settings(max_examples=400, deadline=None)
def test_admitted_key_renders_are_injective(shape):
    """Every term shape the proof admits renders distinct leaf tuples,
    NULLs included, as distinct terms in the Python tier: two rows the
    keyed dedup keeps apart never render the same triple."""
    import itertools

    from morph_xr2rml_spark.translate import CompiledTermMap
    m, dtypes, cfg = shape
    if _refusal(m, dtypes, cfg) is not None:
        return
    domains = _key_domains()
    ctm = CompiledTermMap(m, cfg)
    seen: dict = {}
    for values in itertools.product(*(domains[dt] for dt in dtypes)):
        terms = ctm.translate({f"g{i}": v for i, v in enumerate(values)})
        if terms:
            assert len(terms) == 1
            assert seen.setdefault(terms[0], values) == values, \
                (m.template or m.reference, terms[0])


def test_the_proof_admits_the_corpus_shapes():
    """The shapes of the kg_docs mapping: a '-'-separated template over
    integers, an integer literal and a single-group template."""
    from pyspark.sql import types as T

    from morph_xr2rml_spark.model import REFERENCE, TEMPLATE, TermMap
    from morph_xr2rml_spark.translate import EngineConfig
    cfg = EngineConfig()
    longs = [T.LongType(), T.LongType()]
    for m in (TermMap(kind=TEMPLATE, position="subject",
                      template="http://example.org/line/{$.g0}-{$.g1}"),
              TermMap(kind=REFERENCE, position="object", reference="$.g0"),
              TermMap(kind=TEMPLATE, position="object",
                      template="http://example.org/part/{$.g0}")):
        assert _refusal(m, longs, cfg) is None
    # three '-'-separated integers do not parse back uniquely:
    # (NULL, 5, -3) and (-5, NULL, 3) both render ".../-5--3"
    m = TermMap(kind=TEMPLATE, position="subject",
                template="http://x/{$.g0}-{$.g1}-{$.g2}")
    assert "separators" in _refusal(m, longs + [T.LongType()], cfg)


@pytest.mark.parametrize("case", [
    "double", "float", "timestamp", "trimmed string literal",
    "string IRI reference", "string multi-group template",
    "string IRI template edge"])
def test_the_proof_refuses_the_unsound_shapes(case):
    """The shapes a key of typed values would dedup wrongly: doubles
    (grouping merges -0.0/0.0 and NaN, which render apart), timestamps
    (rendered to the second), string literals under literal_trim (" a"
    and "a" render alike), string references to IRIs (trimmed),
    multi-group templates over strings (("x-y", "z") and ("x", "y-z")
    render alike) and a string group at an IRI template's edge (the
    expanded IRI is trimmed: "a" and "a\t" render alike)."""
    from pyspark.sql import types as T

    from morph_xr2rml_spark import namespaces as NS
    from morph_xr2rml_spark.model import REFERENCE, TEMPLATE, TermMap
    from morph_xr2rml_spark.translate import EngineConfig
    ref = TermMap(kind=REFERENCE, position="object", reference="$.g0")
    iri_ref = TermMap(kind=REFERENCE, position="object", reference="$.g0",
                      term_type=NS.RR_IRI)
    pair = TermMap(kind=TEMPLATE, position="subject",
                   template="http://x/{$.g0}-{$.g1}")
    m, dtypes = {
        "double": (ref, [T.DoubleType()]),
        "float": (pair, [T.LongType(), T.FloatType()]),
        "timestamp": (iri_ref, [T.TimestampType()]),
        "trimmed string literal": (ref, [T.StringType()]),
        "string IRI reference": (iri_ref, [T.StringType()]),
        "string multi-group template": (pair, [T.StringType()] * 2),
        "string IRI template edge": (
            TermMap(kind=TEMPLATE, position="subject",
                    template="http://x/o/{$.g0}"), [T.StringType()]),
    }[case]
    assert _refusal(m, dtypes, EngineConfig(literal_trim=True)) is not None


def test_string_chains_leave_render_alphabets_alone():
    """A stringified (pushed-down) value of a STRING_CHAIN_FIXED type
    passes the string chains unchanged: the proof reads its source type,
    and above a keyed aggregate it renders as that type."""
    from morph_xr2rml_spark.functions.datatypes import normalize_datetime
    from morph_xr2rml_spark.functions.encoding import encode_literal
    from morph_xr2rml_spark.native import RENDER_ALPHABET, STRING_CHAIN_FIXED
    from morph_xr2rml_spark.translate import nt_escape
    chars = {c for t in STRING_CHAIN_FIXED for c in "".join(RENDER_ALPHABET[t])}
    for c in chars:
        for chain in (str.strip, encode_reserved_chars, encode_url,
                      encode_literal, normalize_datetime, nt_escape):
            assert chain(c) == c, (chain, c)
