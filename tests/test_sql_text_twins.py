"""The Catalyst tiers build every expression as SQL text (one F.expr
parse instead of one py4j round trip per operator — OPTIMIZATION_r07),
and each render rule exists once, in native.py's CatalystCompiler.
These tests pin the text builders to the package's real references over
adversarial values: each helper against functions/encoding.py,
str.strip() and the Python tier's N-Triples escape; whole term
expressions of both Catalyst compilers against
local_engine.materialize_local on the same rows; the Python tier's
double lexical against Spark's own cast.
"""

import pathlib
import sys
import pytest
from pyspark.sql import functions as F

sys.path.insert(0, str(pathlib.Path(__file__).resolve().parent.parent))

from conftest import tier_pool  # noqa: E402
from morph_xr2rml_spark.functions.datatypes import to_lexical  # noqa: E402
from morph_xr2rml_spark.functions.encoding import (  # noqa: E402
    encode_literal, encode_reserved_chars, encode_url)
from morph_xr2rml_spark.local_engine import materialize_local  # noqa: E402
from morph_xr2rml_spark.model import MappingDocument  # noqa: E402
from morph_xr2rml_spark.native import (  # noqa: E402
    _PY_STRIP_WS, encode_literal_sql, encode_reserved_sql, encode_url_sql,
    nt_escape_sql, sql_ident, sql_lit, strip_ws_sql)
from morph_xr2rml_spark.translate import nt_escape  # noqa: E402

NASTY = [
    "plain",
    "spaces  and\ttabs\nnewline\rcr",
    "quote'single\"double",
    "back\\slash\\\\double",
    "percent%20encoded%",
    "unicode  nbsp ls　ideo og",
    " leading and trailing \t\n\x0b\x1c\x85\xa0  ",
    "__multi___underscore____",
    "{braces} [brackets] (parens) <angle>",
    "",
    None,
    "mixed'\\\"\n\t%_:#/?&=+,;@$!*",
    _PY_STRIP_WS,
]


@pytest.fixture(scope="module")
def nasty_df(spark):
    return spark.createDataFrame([(s,) for s in NASTY], "s string")


def _cmp(df, sql_text, reference):
    """The SQL expression over column s equals ``reference`` (a Python
    function, None passed through) on every NASTY value."""
    for s, got in df.select("s", F.expr(sql_text).alias("b")).collect():
        want = None if s is None else reference(s)
        assert got == want, (s, got, want)


def test_sql_lit_roundtrip(nasty_df):
    for s in NASTY:
        if s is None:
            continue
        got = nasty_df.sparkSession.range(1) \
            .select(F.expr(sql_lit(s)).alias("x")).collect()[0].x
        assert got == s, repr(s)


def test_strip_ws_twin(nasty_df):
    _cmp(nasty_df, strip_ws_sql(sql_ident("s")), str.strip)


def test_encode_url_twin(nasty_df):
    _cmp(nasty_df, encode_url_sql(sql_ident("s")), encode_url)


def test_encode_reserved_twin(nasty_df):
    _cmp(nasty_df, encode_reserved_sql(sql_ident("s")),
         encode_reserved_chars)


def test_encode_literal_twin(nasty_df):
    _cmp(nasty_df, encode_literal_sql(sql_ident("s")), encode_literal)
    _cmp(nasty_df, encode_literal_sql(sql_ident("s"), True),
         lambda s: encode_literal(s, True))


def test_nt_escape_twin(nasty_df):
    _cmp(nasty_df, nt_escape_sql(sql_ident("s")), nt_escape)


def test_term_expr_matches_local_engine(spark):
    """The native compiler's triples equal the local engine's on the
    same rows, for every term map kind: constant IRI/literal, column
    literal (string, double, boolean with a NULL, timestamp), column
    IRI and blank node, multi-group templates with NULL groups.  The
    local engine reads each row as a document holding the source's
    lexical forms: a DOUBLE's is Java's Double.toString, a TIMESTAMP's
    its SQL text."""
    rows = [
        (1, "a b'c\\d", 2.5, True, "2024-05-06 07:08:09"),
        (2, None, None, False, None),
        (3, " pad\tded  ", -0.0, None, "1999-12-31 23:59:59"),
        (4, "percent%__und__'\"q", 1e16, True, None),
    ]
    df = spark.createDataFrame(
        rows, "k int, name string, val double, flag boolean, ts_s string")
    df = df.withColumn("ts", F.col("ts_s").cast("timestamp"))
    docs = [{"k": k, "name": name,
             "val": None if val is None else to_lexical(val),
             "flag": flag, "ts": ts}
            for k, name, val, flag, ts in rows]
    mapping = MappingDocument.from_text("""
@prefix rr: <http://www.w3.org/ns/r2rml#> .
@prefix ex: <http://example.com/> .
@prefix xsd: <http://www.w3.org/2001/XMLSchema#> .
<#T> rr:logicalTable [ rr:tableName "t" ];
  rr:subjectMap [ rr:template "http://example.org/x/{k}/{name}";
                  rr:class ex:Row ];
  rr:predicateObjectMap [ rr:predicate ex:name;
    rr:objectMap [ rr:column "name" ] ];
  rr:predicateObjectMap [ rr:predicate ex:val;
    rr:objectMap [ rr:column "val"; rr:datatype xsd:double ] ];
  rr:predicateObjectMap [ rr:predicate ex:flag;
    rr:objectMap [ rr:column "flag" ] ];
  rr:predicateObjectMap [ rr:predicate ex:ts;
    rr:objectMap [ rr:column "ts"; rr:datatype xsd:dateTime ] ];
  rr:predicateObjectMap [ rr:predicate ex:iriCol;
    rr:objectMap [ rr:column "name"; rr:termType rr:IRI ] ];
  rr:predicateObjectMap [ rr:predicate ex:label;
    rr:objectMap [ rr:template "{name}|{k}"; rr:termType rr:Literal ] ];
  rr:predicateObjectMap [ rr:predicate ex:node;
    rr:objectMap [ rr:template "n {name}"; rr:termType rr:BlankNode ] ];
  rr:predicateObjectMap [ rr:predicate ex:colNode;
    rr:objectMap [ rr:column "name"; rr:termType rr:BlankNode ] ];
  rr:predicateObjectMap [ rr:predicate ex:const;
    rr:objectMap [ rr:constant "c\\"q"@en ] ].
""")
    got = {tuple(r) for r in
           tier_pool(spark, mapping, "native", tables={"t": df}).collect()}
    want = materialize_local(mapping, {"t": docs})
    assert got == want, (sorted(got - want), sorted(want - got))
    # the NULL boolean is no term (R2RML §11), not "false"
    assert not any(s == "<http://example.org/x/3/%20pad%09ded%20%20>"
                   and p == "<http://example.com/flag>"
                   for s, p, _o, _g in got)


def test_json_term_expr_matches_local_engine(spark):
    """The json-native compiler's triples equal the local engine's on
    the same documents, for reference (literal, blank node) and template
    (IRI, literal, blank node) term maps over string/long/double/boolean
    fields, NULL and missing values."""
    import json as _json
    from morph_xr2rml_spark.sources import SourceCatalog

    docs = [
        {"name": "a b'c\\d", "qty": 3, "price": 2.5, "ok": True,
         "lines": [{"ln": 1, "tag": " pad %x_ "}, {"ln": 2, "tag": None}]},
        {"name": None, "qty": None, "price": -0.0, "ok": False,
         "lines": [{"ln": 3, "tag": "t\"q"}]},
        {"name": " pad\tded__x ", "qty": 7, "price": 0.125, "ok": None},
    ]
    df = spark.createDataFrame([(_json.dumps(d),) for d in docs],
                               "content string")
    catalog = SourceCatalog().register_collection("docs", df)
    mapping = MappingDocument.from_text("""
@prefix rr:  <http://www.w3.org/ns/r2rml#> .
@prefix xrr: <http://i3s.unice.fr/xr2rml#> .
@prefix ex:  <http://example.com/> .
<#D> xrr:logicalSource [ xrr:query "db.docs.find({})" ];
  rr:subjectMap [ rr:template "http://example.org/d/{$.name}/{$.qty}" ];
  rr:predicateObjectMap [ rr:predicate ex:name;
    rr:objectMap [ xrr:reference "$.name" ] ];
  rr:predicateObjectMap [ rr:predicate ex:qty;
    rr:objectMap [ xrr:reference "$.qty" ] ];
  rr:predicateObjectMap [ rr:predicate ex:price;
    rr:objectMap [ xrr:reference "$.price" ] ];
  rr:predicateObjectMap [ rr:predicate ex:ok;
    rr:objectMap [ xrr:reference "$.ok" ] ];
  rr:predicateObjectMap [ rr:predicate ex:label;
    rr:objectMap [ rr:template "{$.name}|{$.ok}"; rr:termType rr:Literal ] ];
  rr:predicateObjectMap [ rr:predicate ex:node;
    rr:objectMap [ rr:template "n {$.name}"; rr:termType rr:BlankNode ] ];
  rr:predicateObjectMap [ rr:predicate ex:refNode;
    rr:objectMap [ xrr:reference "$.name"; rr:termType rr:BlankNode ] ].
""")
    got = {tuple(r) for r in
           tier_pool(spark, mapping, "json", catalog=catalog).collect()}
    want = materialize_local(mapping, {"docs": docs})
    assert got == want, (sorted(got - want), sorted(want - got))


def test_compilers_refuse_escaped_string_literals(spark):
    """sql_lit assumes the default parser; under the legacy
    escapedStringLiterals mode both native compilers and the find()
    filter path fail loudly instead of emitting silently different
    terms or selecting different documents."""
    from morph_xr2rml_spark.model import LogicalSource
    from morph_xr2rml_spark.native import NativeCompiler
    from morph_xr2rml_spark.native_json import JsonNativeCompiler
    from morph_xr2rml_spark.sources import SourceCatalog
    mapping = MappingDocument.from_text("")
    catalog = SourceCatalog().register_collection(
        "c", spark.createDataFrame([('{"a": "x"}',)], "content string"))
    find = LogicalSource(kind="query", value="db.c.find({a: 'x'})")
    conf = "spark.sql.parser.escapedStringLiterals"
    old = spark.conf.get(conf, "false")
    spark.conf.set(conf, "true")
    try:
        with pytest.raises(ValueError, match="escapedStringLiterals"):
            NativeCompiler(spark, mapping, {})
        with pytest.raises(ValueError, match="escapedStringLiterals"):
            JsonNativeCompiler(spark, mapping, SourceCatalog())
        with pytest.raises(ValueError, match="escapedStringLiterals"):
            catalog.resolve(find)
    finally:
        spark.conf.set(conf, old)
    NativeCompiler(spark, mapping, {})
    JsonNativeCompiler(spark, mapping, SourceCatalog())
    assert catalog.resolve(find)[0].count() == 1


# values the dateTime/boolean normalizers rewrite (translate._make_term)
_NORMALIZED = ["2024-01-02 03:04:05", "T", "1", "no", " 2024-01-02 03:04:05 ",
               None]


def test_datetime_boolean_render_matches_local_engine(spark):
    """An explicit rr:datatype xsd:dateTime / xsd:boolean normalizes the
    lexical on both Catalyst tiers as the Python tier does: a column or
    reference, a template literal, and an integer column typed boolean."""
    import json as _json
    from morph_xr2rml_spark.sources import SourceCatalog
    rows = [(i, v) for i, v in enumerate(_NORMALIZED)]
    pom = """
  rr:predicateObjectMap [ rr:predicate ex:dt;
    rr:objectMap [ rr:LEAF "S"; rr:datatype xsd:dateTime ] ];
  rr:predicateObjectMap [ rr:predicate ex:b;
    rr:objectMap [ rr:LEAF "S"; rr:datatype xsd:boolean ] ];
  rr:predicateObjectMap [ rr:predicate ex:bt;
    rr:objectMap [ rr:template "{S}"; rr:datatype xsd:boolean ] ];
  rr:predicateObjectMap [ rr:predicate ex:bk;
    rr:objectMap [ rr:LEAF "K"; rr:datatype xsd:boolean ] ]."""
    head = """
@prefix rr: <http://www.w3.org/ns/r2rml#> .
@prefix xrr: <http://i3s.unice.fr/xr2rml#> .
@prefix ex: <http://example.com/> .
@prefix xsd: <http://www.w3.org/2001/XMLSchema#> .
"""
    tab = MappingDocument.from_text(head + """
<#T> rr:logicalTable [ rr:tableName "t" ];
  rr:subjectMap [ rr:template "http://example.org/x/{k}" ];""" + pom.replace(
        "rr:LEAF", "rr:column").replace('"S"', '"s"').replace(
        "{S}", "{s}").replace('"K"', '"k"'))
    df = spark.createDataFrame(rows, "k int, s string")
    got = {tuple(r) for r in
           tier_pool(spark, tab, "native", tables={"t": df}).collect()}
    want = materialize_local(tab, {"t": [{"k": k, "s": v} for k, v in rows]})
    assert got == want, (sorted(got - want), sorted(want - got))

    doc = MappingDocument.from_text(head + """
<#D> xrr:logicalSource [ xrr:query "db.docs.find({})" ];
  rr:subjectMap [ rr:template "http://example.org/x/{$.k}" ];""" + pom.replace(
        "rr:LEAF", "xrr:reference").replace('"S"', '"$.s"').replace(
        "{S}", "{$.s}").replace('"K"', '"$.k"'))
    docs = [{"k": k, "s": v} for k, v in rows]
    catalog = SourceCatalog().register_collection(
        "docs", spark.createDataFrame([(_json.dumps(d),) for d in docs],
                                      "content string"))
    got = {tuple(r) for r in
           tier_pool(spark, doc, "json", catalog=catalog).collect()}
    want = materialize_local(doc, {"docs": docs})
    assert got == want, (sorted(got - want), sorted(want - got))
    assert ("<http://example.org/x/0>", "<http://example.com/dt>",
            '"2024-01-02T03:04:05"^^<http://www.w3.org/2001/XMLSchema#'
            'dateTime>', None) in got


def test_datetime_boolean_literal_query(spark):
    """A SPARQL literal over a normalized column answers from the
    normalized lexical: the column constraint stays unpushed."""
    from morph_xr2rml_spark.api import answer_auto
    mapping = MappingDocument.from_text("""
@prefix rr: <http://www.w3.org/ns/r2rml#> .
@prefix ex: <http://example.com/> .
@prefix xsd: <http://www.w3.org/2001/XMLSchema#> .
<#T> rr:logicalTable [ rr:tableName "t" ];
  rr:subjectMap [ rr:template "http://example.org/x/{k}" ];
  rr:predicateObjectMap [ rr:predicate ex:dt;
    rr:objectMap [ rr:column "s"; rr:datatype xsd:dateTime ] ];
  rr:predicateObjectMap [ rr:predicate ex:b;
    rr:objectMap [ rr:column "s"; rr:datatype xsd:boolean ] ].
""")
    rows = [(i, v) for i, v in enumerate(_NORMALIZED)]
    tables = {"t": spark.createDataFrame(rows, "k int, s string")}
    q = ("PREFIX ex: <http://example.com/> "
         "PREFIX xsd: <http://www.w3.org/2001/XMLSchema#> "
         "SELECT ?x WHERE { ?x ex:%s %s }")
    dt = answer_auto(spark, mapping, q % (
        "dt", '"2024-01-02T03:04:05"^^xsd:dateTime'), tables=tables)
    assert sorted(r.x for r in dt.collect()) == [
        "<http://example.org/x/0>", "<http://example.org/x/4>"]
    b = answer_auto(spark, mapping, q % ("b", '"true"^^xsd:boolean'),
                    tables=tables)
    assert sorted(r.x for r in b.collect()) == [
        "<http://example.org/x/1>", "<http://example.org/x/2>"]
    pat = answer_auto(spark, mapping, q % (
        "b", '?o FILTER(STRSTARTS(STR(?o), "fa"))'), tables=tables)
    assert sorted(r.x for r in pat.collect()) == [
        "<http://example.org/x/0>", "<http://example.org/x/3>",
        "<http://example.org/x/4>"]


# Double.toString's two layouts and their switch points (1e-3, 1e7),
# the exponent range and the special values
_DOUBLES = [0.0, -0.0, 1.0, -1.5, 0.1, 1 / 3, 3.14, 100.0, 0.001, 0.00099,
            0.0009999, 1.25e-4, 1e-5, -2.5e-4, 1e-10, 9999999.0,
            9999999.999, 1e7, -1e7, 1.5e7, 1234567.125, 12345678.9,
            123456789.0, 1e16, 1e22, 6.02214076e23, 1e100, 1e-300,
            2.2250738585072014e-308, 5e-324, 1.7976931348623157e308,
            float("nan"), float("inf"), float("-inf")]
# JDK 17's Double.toString is not the shortest representation for these
# (JDK-4511638, fixed in JDK 19); to_lexical prints the shortest digits
_OLD_JDK_DIGITS = [1e23, 2e23, 8.41e21]


def test_to_lexical_lays_out_doubles_like_spark(spark):
    """functions/datatypes.to_lexical prints a double as Spark's
    CAST(x AS STRING) does on this JVM (Java's Double.toString)."""
    df = spark.createDataFrame([(v,) for v in _DOUBLES + _OLD_JDK_DIGITS],
                               "x double")
    for x, cast in df.selectExpr("x", "CAST(x AS STRING)").collect():
        mine = to_lexical(x)
        if x in _OLD_JDK_DIGITS and mine != cast:
            # same double, same layout; only the digit choice differs
            assert float(mine) == float(cast) and "E" in mine and \
                "E" in cast, (x, mine, cast)
            continue
        assert mine == cast, (x, mine, cast)


def test_json_doubles_match_local_engine(spark):
    """Doubles in the exponent range render alike on the json-native and
    the Python document tier."""
    import json as _json
    from morph_xr2rml_spark.sources import SourceCatalog
    docs = [{"k": 1, "v": 1e16}, {"k": 2, "v": 1e-05}]
    catalog = SourceCatalog().register_collection(
        "docs", spark.createDataFrame([(_json.dumps(d),) for d in docs],
                                      "content string"))
    mapping = MappingDocument.from_text("""
@prefix rr: <http://www.w3.org/ns/r2rml#> .
@prefix xrr: <http://i3s.unice.fr/xr2rml#> .
@prefix ex: <http://example.com/> .
<#D> xrr:logicalSource [ xrr:query "db.docs.find({})" ];
  rr:subjectMap [ rr:template "http://example.org/d/{$.k}" ];
  rr:predicateObjectMap [ rr:predicate ex:v;
    rr:objectMap [ xrr:reference "$.v" ] ].
""")
    got = {tuple(r) for r in
           tier_pool(spark, mapping, "json", catalog=catalog).collect()}
    want = materialize_local(mapping, {"docs": docs})
    assert got == want, (sorted(got - want), sorted(want - got))
    assert {o for _s, _p, o, _g in got} == {
        '"1.0E16"^^<http://www.w3.org/2001/XMLSchema#decimal>',
        '"1.0E-5"^^<http://www.w3.org/2001/XMLSchema#decimal>'}


STRIP_VALUES = [" a", "a\t", "\xa0b\xa0", "c\td", "\t", None]


def _strip_mapping(source: str, ref: str) -> MappingDocument:
    return MappingDocument.from_text(f"""
@prefix rr:  <http://www.w3.org/ns/r2rml#> .
@prefix xrr: <http://i3s.unice.fr/xr2rml#> .
@prefix ex:  <http://example.com/> .
<#S> {source};
  rr:subjectMap [ rr:template "http://x/o/{{{ref}k}}/{{{ref}s}}" ];
  rr:predicateObjectMap [ rr:predicate ex:to;
    rr:objectMap [ rr:template "{{{ref}s}}"; rr:termType rr:IRI ] ];
  rr:predicateObjectMap [ rr:predicate ex:mid;
    rr:objectMap [ rr:template "http://x/{{{ref}s}}/{{{ref}k}}";
                   rr:termType rr:IRI ] ].
""")


def test_iri_template_strip_matches_local_engine(spark):
    """createIRI trims the expanded IRI: a string group at an edge of an
    IRI template loses its leading/trailing whitespace (tab, NBSP; a
    space is reserved-encoded first), inner whitespace stays -- on both
    Catalyst tiers, as in the Python tier."""
    import json as _json
    from morph_xr2rml_spark.sources import SourceCatalog

    rows = list(enumerate(STRIP_VALUES))
    docs = [{"k": k, "s": s} for k, s in rows]
    tab = _strip_mapping('rr:logicalTable [ rr:tableName "t" ]', "")
    df = spark.createDataFrame(rows, "k int, s string")
    got = {tuple(r) for r in
           tier_pool(spark, tab, "native", tables={"t": df}).collect()}
    want = materialize_local(tab, {"t": docs})
    assert got == want, (sorted(got - want), sorted(want - got))
    assert ("<http://x/o/1/a>", "<http://example.com/to>", "<a>",
            None) in got

    doc = _strip_mapping('xrr:logicalSource [ xrr:query '
                         '"db.docs.find({})" ]', "$.")
    catalog = SourceCatalog().register_collection(
        "docs", spark.createDataFrame([(_json.dumps(d),) for d in docs],
                                      "content string"))
    got = {tuple(r) for r in
           tier_pool(spark, doc, "json", catalog=catalog).collect()}
    want = materialize_local(doc, {"docs": docs})
    assert got == want, (sorted(got - want), sorted(want - got))
    assert ("<http://x/o/3/c\td>", "<http://example.com/to>", "<c\td>",
            None) in got
