"""The Catalyst tiers build every expression as SQL text (one F.expr
parse instead of one py4j round trip per operator — OPTIMIZATION_r07),
and each render rule exists once, in native.py.  These tests pin the
text builders to the package's real references over adversarial values:
each helper against functions/encoding.py, str.strip() and the Python
tier's N-Triples escape; whole term expressions of both Catalyst
compilers against local_engine.materialize_local on the same rows.
"""

import sys
from decimal import Decimal

import pytest
from pyspark.sql import functions as F

sys.path.insert(0, "/root/repo")

from conftest import tier_pool  # noqa: E402
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


def _java_double(x: float) -> str:
    """Double.toString, the lexical form a relational source hands over
    for a DOUBLE: plain decimal in [1e-3, 1e7) (where Python's repr
    agrees), else one digit, a fraction and an exponent ("1.0E16")."""
    if x == 0 or 1e-3 <= abs(x) < 1e7:
        return repr(x)
    sign, digits, exp = Decimal(repr(x)).as_tuple()
    d = "".join(map(str, digits)).rstrip("0") or "0"
    return (("-" if sign else "") + d[0] + "." + (d[1:] or "0")
            + f"E{exp + len(digits) - 1}")


def test_term_expr_matches_local_engine(spark):
    """The native compiler's triples equal the local engine's on the
    same rows, for every term map kind: constant IRI/literal, column
    literal (string, double, boolean with a NULL, timestamp), column
    IRI, multi-group templates with NULL groups.  The local engine reads
    each row as a document holding the source's lexical forms: a
    DOUBLE's is Java's Double.toString, a TIMESTAMP's its SQL text."""
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
             "val": None if val is None else _java_double(val),
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
    the same documents, for reference and template (IRI, literal, blank
    node) term maps over string/long/double/boolean fields, NULL and
    missing values."""
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
    rr:objectMap [ rr:template "n {$.name}"; rr:termType rr:BlankNode ] ].
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
