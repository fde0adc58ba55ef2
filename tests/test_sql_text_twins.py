"""The native compiler renders term expressions as SQL text (one F.expr
parse instead of one py4j round trip per operator — OPTIMIZATION_r07).
These tests pin the text builders to the Column-DSL twins byte-for-byte
over adversarial values, so the two can never drift apart.
"""

import sys

import pytest
from pyspark.sql import functions as F

sys.path.insert(0, "/root/repo")

from morph_xr2rml_spark.native import (  # noqa: E402
    _PY_STRIP_WS, encode_literal_col, encode_literal_sql,
    encode_reserved_col, encode_reserved_sql, encode_url_col,
    encode_url_sql, nt_escape_col, nt_escape_sql, sql_ident, sql_lit,
    strip_ws_col, strip_ws_sql)

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


def _cmp(df, col_version, sql_text):
    rows = df.select(col_version.alias("a"),
                     F.expr(sql_text).alias("b")).collect()
    for r in rows:
        assert r.a == r.b, (r.a, r.b)


def test_sql_lit_roundtrip(nasty_df):
    for s in NASTY:
        if s is None:
            continue
        got = nasty_df.sparkSession.range(1) \
            .select(F.expr(sql_lit(s)).alias("x")).collect()[0].x
        assert got == s, repr(s)


def test_strip_ws_twin(nasty_df):
    _cmp(nasty_df, strip_ws_col(F.col("s")), strip_ws_sql(sql_ident("s")))


def test_encode_url_twin(nasty_df):
    _cmp(nasty_df, encode_url_col(F.col("s")), encode_url_sql(sql_ident("s")))


def test_encode_reserved_twin(nasty_df):
    _cmp(nasty_df, encode_reserved_col(F.col("s")),
         encode_reserved_sql(sql_ident("s")))


def test_encode_literal_twin(nasty_df):
    _cmp(nasty_df, encode_literal_col(F.col("s")),
         encode_literal_sql(sql_ident("s")))
    _cmp(nasty_df, encode_literal_col(F.col("s"), True),
         encode_literal_sql(sql_ident("s"), True))


def test_nt_escape_twin(nasty_df):
    _cmp(nasty_df, nt_escape_col(F.col("s")), nt_escape_sql(sql_ident("s")))


def _legacy_term_expr(comp, df, m):
    """The pre-r7 Column-DSL term_expr, reconstructed verbatim — the
    differential baseline for the text build."""
    from pyspark.sql import types as T
    from morph_xr2rml_spark import namespaces as NS
    from morph_xr2rml_spark.functions.encoding import encode_url
    from morph_xr2rml_spark.functions.templates import get_template_groups
    from morph_xr2rml_spark.model import COLUMN, CONSTANT, TEMPLATE
    from morph_xr2rml_spark.native import _col_as_string, natural_datatype

    tt = m.infer_term_type()
    if m.kind == CONSTANT:
        c = m.constant
        if c[0] == "iri":
            return comp._iri_term(F.lit(c[1]))
        if c[0] == "bnode":
            return F.lit(f"_:{c[1]}")
        return comp._literal_term(F.lit(c[1]), m.datatype or c[2],
                                  m.language or c[3])
    if m.kind == COLUMN:
        raw = _col_as_string(df, m.column)
        if tt == NS.RR_IRI:
            iri = raw
            if isinstance(df.schema[m.column].dataType, T.StringType):
                iri = strip_ws_col(iri)
                if comp.cfg.encode_unsafe_chars_in_uri:
                    iri = encode_url_col(iri)
            return comp._iri_term(iri)
        dtype = m.datatype or (
            natural_datatype(df.schema[m.column].dataType)
            if comp.cfg.infer_datatypes and not m.language else None)
        val = raw
        if comp.cfg.literal_trim:
            val = strip_ws_col(val)
        if isinstance(df.schema[m.column].dataType, T.StringType):
            val = encode_literal_col(val, comp.cfg.encode_literal_quotes)
        return comp._literal_term(val, dtype, m.language)
    assert m.kind == TEMPLATE
    groups = get_template_groups(m.template)
    segments, rest = [], m.template
    for g in groups:
        fixed, _, rest = rest.partition("{" + g + "}")
        segments.append(fixed)

    def fix(seg):
        if tt == NS.RR_IRI and comp.cfg.encode_unsafe_chars_in_uri:
            return encode_url(seg)
        return seg

    parts, col_exprs = [], []
    for seg, g in zip(segments, groups):
        if seg:
            parts.append(F.lit(fix(seg)))
        raw = _col_as_string(df, g)
        if tt == NS.RR_IRI and comp.cfg.encode_unsafe_chars_in_db_values \
                and isinstance(df.schema[g].dataType, T.StringType):
            raw = encode_reserved_col(raw)
        col_exprs.append(raw)
        parts.append(F.coalesce(raw, F.lit("")))
    if rest:
        parts.append(F.lit(fix(rest)))
    expanded = F.concat(*parts)
    all_null = None
    for ce in col_exprs:
        cond = ce.isNull()
        all_null = cond if all_null is None else (all_null & cond)
    if all_null is not None:
        expanded = F.when(all_null, F.lit(None)).otherwise(expanded)
    if tt == NS.RR_IRI:
        return comp._iri_term(expanded)
    return comp._literal_term(expanded, m.datatype, m.language)


def test_term_expr_matches_legacy_dsl(spark):
    """Differential: the text-built term_expr must equal the pre-r7
    Column-DSL build byte-for-byte over adversarial values, for every
    term map kind (constant / column incl. bool, double, timestamp /
    template with multiple groups)."""
    from morph_xr2rml_spark.model import MappingDocument
    from morph_xr2rml_spark.native import NativeCompiler

    rows = [
        (1, "a b'c\\d", 2.5, True, "2024-05-06 07:08:09"),
        (2, None, None, False, None),
        (3, " pad\tded  ", -0.0, None, "1999-12-31 23:59:59"),
        (4, "percent%__und__'\"q", 1e16, True, None),
    ]
    df = spark.createDataFrame(
        rows, "k int, name string, val double, flag boolean, ts_s string")
    df = df.withColumn("ts", F.col("ts_s").cast("timestamp"))
    mapping = MappingDocument.from_text("""
@prefix rr: <http://www.w3.org/ns/r2rml#> .
@prefix ex: <http://example.com/> .
<#T> rr:logicalTable [ rr:tableName "t" ];
  rr:subjectMap [ rr:template "http://example.org/x/{k}/{name}" ];
  rr:predicateObjectMap [ rr:predicate ex:name;
    rr:objectMap [ rr:column "name" ] ];
  rr:predicateObjectMap [ rr:predicate ex:val;
    rr:objectMap [ rr:column "val" ] ];
  rr:predicateObjectMap [ rr:predicate ex:flag;
    rr:objectMap [ rr:column "flag" ] ];
  rr:predicateObjectMap [ rr:predicate ex:ts;
    rr:objectMap [ rr:column "ts" ] ];
  rr:predicateObjectMap [ rr:predicate ex:iriCol;
    rr:objectMap [ rr:column "name"; rr:termType rr:IRI ] ].
""")
    comp = NativeCompiler(spark, mapping, {"t": df})
    tm = list(mapping.triples_maps.values())[0]
    maps = [tm.subject_map]
    for pom in tm.predicate_object_maps:
        maps.extend(pom.predicate_maps + pom.object_maps)
    cols = []
    for i, m in enumerate(maps):
        cols.append(comp.term_expr(df, m).alias(f"new{i}"))
        cols.append(_legacy_term_expr(comp, df, m).alias(f"old{i}"))
    for r in df.select(*cols).collect():
        for i in range(len(maps)):
            assert getattr(r, f"new{i}") == getattr(r, f"old{i}"), \
                (i, getattr(r, f"new{i}"), getattr(r, f"old{i}"))


def test_json_term_expr_matches_legacy_dsl(spark):
    """Differential for the json-native tier: the text-built _term_expr
    must equal a Column-DSL reconstruction (via the retained _field_col/
    _as_lexical helpers) byte-for-byte, for reference and template term
    maps over string/long/double/boolean fields and an iterator."""
    import json as _json
    from morph_xr2rml_spark import namespaces as NS
    from morph_xr2rml_spark.functions.templates import (compile_template,
                                                        get_template_groups)
    from morph_xr2rml_spark.model import (CONSTANT, REFERENCE, TEMPLATE,
                                          MappingDocument)
    from morph_xr2rml_spark.native_json import (JsonNativeCompiler,
                                                _as_lexical, _literal_term)
    from morph_xr2rml_spark.native import (encode_url_col as _nat_enc_url,
                                           encode_literal_col,
                                           encode_reserved_col, strip_ws_col)
    from morph_xr2rml_spark.sources import SourceCatalog

    docs = [
        {"name": "a b'c\\d", "qty": 3, "price": 2.5, "ok": True,
         "lines": [{"ln": 1, "tag": " pad %x_ "}, {"ln": 2, "tag": None}]},
        {"name": None, "qty": None, "price": -0.0, "ok": False,
         "lines": [{"ln": 3, "tag": "t\"q"}]},
    ]
    df = spark.createDataFrame([( _json.dumps(d),) for d in docs],
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
  rr:predicateObjectMap [ rr:predicate ex:price;
    rr:objectMap [ xrr:reference "$.price" ] ];
  rr:predicateObjectMap [ rr:predicate ex:ok;
    rr:objectMap [ xrr:reference "$.ok" ] ].
""")
    comp = JsonNativeCompiler(spark, mapping, catalog)
    tm = list(mapping.triples_maps.values())[0]
    schema = comp._schema_for(tm)
    parsed = df.select(
        F.from_json(F.col("content"), schema).alias("_doc"))
    root_c = F.col("_doc")

    def legacy(m):
        tt = m.infer_term_type()
        cfg = comp.cfg
        if m.kind == REFERENCE:
            col, dt = comp._field_col(tm, root_c, None, m.reference)
            lex = _as_lexical(col, dt)
            from pyspark.sql import types as T
            is_str = isinstance(dt, T.StringType)
            if is_str and cfg.literal_trim:
                lex = strip_ws_col(lex)
            if is_str:
                lex = encode_literal_col(lex, cfg.encode_literal_quotes)
            dtype = m.datatype
            if dtype is None and m.language is None and cfg.infer_datatypes:
                from morph_xr2rml_spark.native_json import _mongo_xsd
                dtype = _mongo_xsd(dt)
            return _literal_term(lex, dtype, m.language, escape=is_str)
        assert m.kind == TEMPLATE
        from pyspark.sql import types as T
        segs = compile_template(m.template)
        groups = get_template_groups(m.template)
        if tt == NS.RR_IRI and cfg.encode_unsafe_chars_in_uri:
            from morph_xr2rml_spark.functions.encoding import encode_url
            segs = [encode_url(s) for s in segs]
        parts, null_conds, any_str = [F.lit(segs[0])], [], False
        for i, g in enumerate(groups):
            col, dt = comp._field_col(tm, root_c, None, g)
            lex = _as_lexical(col, dt)
            if isinstance(dt, T.StringType):
                any_str = True
                if tt == NS.RR_IRI and cfg.encode_unsafe_chars_in_db_values:
                    lex = encode_reserved_col(lex)
            null_conds.append(lex.isNull())
            parts.append(F.coalesce(lex, F.lit("")))
            parts.append(F.lit(segs[i + 1]))
        expanded = F.concat(*parts)
        all_null = null_conds[0]
        for c in null_conds[1:]:
            all_null = all_null & c
        expanded = F.when(all_null, F.lit(None)).otherwise(expanded)
        if tt == NS.RR_IRI:
            return F.concat(F.lit("<"), expanded, F.lit(">"))
        return _literal_term(expanded, m.datatype, m.language,
                             escape=any_str)

    maps = [tm.subject_map] + [m for pom in tm.predicate_object_maps
                               for m in pom.object_maps]
    cols = []
    for i, m in enumerate(maps):
        cols.append(comp._term_expr(tm, "`_doc`", None, m).alias(f"new{i}"))
        cols.append(legacy(m).alias(f"old{i}"))
    for r in parsed.select(*cols).collect():
        for i in range(len(maps)):
            assert getattr(r, f"new{i}") == getattr(r, f"old{i}"), \
                (i, getattr(r, f"new{i}"), getattr(r, f"old{i}"))


def test_compilers_refuse_escaped_string_literals(spark):
    """sql_lit assumes the default parser; under the legacy
    escapedStringLiterals mode both native compilers fail loudly instead
    of emitting silently different terms."""
    from morph_xr2rml_spark.model import MappingDocument
    from morph_xr2rml_spark.native import NativeCompiler
    from morph_xr2rml_spark.native_json import JsonNativeCompiler
    from morph_xr2rml_spark.sources import SourceCatalog
    mapping = MappingDocument.from_text("")
    conf = "spark.sql.parser.escapedStringLiterals"
    old = spark.conf.get(conf, "false")
    spark.conf.set(conf, "true")
    try:
        with pytest.raises(ValueError, match="escapedStringLiterals"):
            NativeCompiler(spark, mapping, {})
        with pytest.raises(ValueError, match="escapedStringLiterals"):
            JsonNativeCompiler(spark, mapping, SourceCatalog())
    finally:
        spark.conf.set(conf, old)
    NativeCompiler(spark, mapping, {})
    JsonNativeCompiler(spark, mapping, SourceCatalog())
