"""Property-based tests (hypothesis) for the pure semantic layers."""

import json
import string

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
