"""Native (pure-Catalyst) compiler for tabular logical sources.

When a triples map only uses column references, templates over columns and
constants (classic R2RML over an RDB — the reference's morph-xr2rml-rdb
module, MorphRDBUnfolder.scala:196-348 / MorphRDBDataTranslator.scala:48-231),
the whole materialization compiles to built-in Catalyst expressions,
composed as SQL text: `concat`, `replace` chains for percent-encoding,
equi-joins for referencing object maps.  No Python runs per row — the plan stays inside
whole-stage codegen, filters and column pruning push down to the scan,
and Catalyst/AQE pick join strategies.

This is the scale path: the document compiler (engine.py) covers full
xR2RML (JSONPath, iterators, nested term maps); this one covers the
R2RML subset at parquet-native speed.  ``CatalystCompiler`` is the core
it shares with the json-native tier (native_json.py): term render,
class/POM walk, unfused branches, keyed dedup and duplicate-freeness
check.
"""

from __future__ import annotations

import itertools
import math
from decimal import Decimal, InvalidOperation
from typing import Collection, Optional

from pyspark.sql import Column, DataFrame, SparkSession, functions as F
from pyspark.sql import types as T

from . import namespaces as NS
from .functions.encoding import _ENCODE_RESERVED, _ENCODE_URL, encode_url
from .functions.templates import compile_template, get_template_groups
from .model import (COLUMN, CONSTANT, REFERENCE, TEMPLATE, MappingDocument,
                    TermMap, TriplesMap, pred_slots, tm_pred_iris)
from .translate import EngineConfig, nt_escape

TRIPLE_COLS = ("subj", "pred", "obj", "graph")


def is_tabular_compilable(tm: TriplesMap) -> bool:
    """True when every term map of the TM uses only constant/column/
    template-over-columns and there is no iterator / nested term map /
    collection term type."""
    if tm.logical_source.iterator or tm.logical_source.pushdowns:
        return False

    def ok(m: Optional[TermMap]) -> bool:
        if m is None:
            return True
        if m.nested is not None or m.language_ref is not None:
            return False
        if m.is_collection_type():
            return False
        return m.kind in (CONSTANT, COLUMN, TEMPLATE)

    if not ok(tm.subject_map):
        return False
    for gm in tm.graph_maps:
        if not ok(gm):
            return False
    for pom in tm.predicate_object_maps:
        for m in pom.predicate_maps + pom.object_maps + pom.graph_maps:
            if not ok(m):
                return False
        for rom in pom.ref_object_maps:
            # join refs must be plain columns
            for jc in rom.join_conditions:
                if any(c in jc.child_ref for c in "$/(") or \
                   any(c in jc.parent_ref for c in "$/("):
                    return False
            if rom.is_collection():
                return False
    return True


# ---------------------------------------------------------------------------
# SQL-text expression builders.
#
# Every expression the compilers build is composed as ONE SQL string and
# parsed by a single F.expr call (or handed to where/selectExpr as text).
# The Column DSL costs one py4j round trip PER OPERATOR — a single
# percent-encoding chain is ~90 RPCs, a full kg_tpch compile ~3,700
# (~0.7 s of driver time per query BUILD, profiled).  Unresolved column
# references in the text resolve by name at analysis.  Each render rule below exists once; the reference
# implementations they mirror are functions/encoding.py, str.strip() and
# the Python tier's lexical forms.
# ---------------------------------------------------------------------------

# Python str.strip()'s whitespace set (str.isspace() over all of
# Unicode).  The Python translation tiers trim literals/IRIs with
# .strip() (translate.py — mirroring the reference's String.trim(),
# MorphBaseDataTranslator.scala:261); every NATIVE render and every
# native constraint mirror must trim the SAME set or a tab/NBSP-padded
# value renders differently across tiers (and a pushed filter could
# wrongly prune).  SQL trim() strips spaces only — never use it for the
# literal/IRI render.
_PY_STRIP_WS = "".join(map(chr, (
    0x09, 0x0A, 0x0B, 0x0C, 0x0D, 0x1C, 0x1D, 0x1E, 0x1F, 0x20,
    0x85, 0xA0, 0x1680,
    0x2000, 0x2001, 0x2002, 0x2003, 0x2004, 0x2005, 0x2006, 0x2007,
    0x2008, 0x2009, 0x200A, 0x2028, 0x2029, 0x202F, 0x205F, 0x3000)))

# default-graph sentinel: the graph column of a triple in the default
# graph.  Compared by value — a per-row NULL graph means the default graph
# too, so a rebuilt-equal string still takes the constant-NULL fast path.
NULL_G = "CAST(NULL AS STRING)"


def sql_lit(s: str) -> str:
    """SQL string literal that parses back to exactly ``s`` under the
    default parser (backslash escape sequences ON)."""
    out = (s.replace("\\", "\\\\").replace("'", "\\'")
            .replace("\n", "\\n").replace("\r", "\\r").replace("\t", "\\t"))
    return "'" + out + "'"


def double_sql(x: float) -> str:
    """SQL DOUBLE literal for ``x`` (the ``3.5D`` form a Python float
    becomes through the Column DSL; non-finite values by cast)."""
    if math.isfinite(x):
        return repr(x) + "D"
    return f"CAST({sql_lit(str(x))} AS DOUBLE)"


def check_sql_text_conf(spark: SparkSession) -> None:
    """The SQL-text builders (sql_lit and everything built on it) assume
    the default parser.  Under the legacy escapedStringLiterals mode a
    backslash escape parses back differently and terms would silently
    change, so refuse to compile instead."""
    conf = "spark.sql.parser.escapedStringLiterals"
    if spark.conf.get(conf, "false").strip().lower() == "true":
        raise ValueError(
            f"{conf}=true is not supported: the native compilers build "
            f"SQL string literals with backslash escapes; set it to false")


def sql_ident(name: str) -> str:
    return "`" + name.replace("`", "``") + "`"


def _chain_sql(op: str, parts, empty: str) -> str:
    out = None
    for p in parts:
        out = p if out is None else f"({out} {op} {p})"
    return empty if out is None else out


# the numeric comparison operators the pushdown mirrors emit
CMP_OPS = ("=", "<", ">", "<=", ">=")


def and_sql(parts) -> str:
    """Left-nested conjunction, "true" when empty — the tree the Column
    DSL's ``a & b & c`` builds (the SQL parser balances a flat chain)."""
    return _chain_sql("AND", parts, "true")


def or_sql(parts) -> str:
    """Left-nested disjunction, "false" when empty (see and_sql)."""
    return _chain_sql("OR", parts, "false")


def _replace_chain_sql(inner: str, pairs) -> str:
    for old, new in pairs:
        inner = f"replace({inner}, {sql_lit(old)}, {sql_lit(new)})"
    return inner


def encode_reserved_sql(inner: str) -> str:
    """GeneralUtility.encodeReservedChars (encoding.encode_reserved_chars)
    as a chain of literal replaces."""
    return _replace_chain_sql(inner, _ENCODE_RESERVED)


def encode_url_sql(inner: str) -> str:
    """GeneralUtility.encodeURI (encoding.encode_url): URL-UNSAFE chars
    only — ':' '/' '%' etc. stay; the whole-IRI encoding the Python tier
    applies in _make_term (translate.py:332-333)."""
    return _replace_chain_sql(inner, _ENCODE_URL)


def encode_literal_sql(inner: str, encode_quotes: bool = False) -> str:
    """GeneralUtility.encodeLiteral (encoding.encode_literal, same
    operation order; quote encoding off by default)."""
    out = f"replace({inner}, {sql_lit(chr(92))}, '/')"
    if encode_quotes:
        out = f"replace({out}, '\"', '%22')"
    out = f"regexp_replace({out}, '_{{2,}}', '_')"
    out = f"replace({out}, {sql_lit(chr(10))}, '')"
    return f"replace({out}, {sql_lit(chr(13))}, '')"


def strip_ws_sql(inner: str) -> str:
    """Python str.strip(): a character-set trim over the exact isspace()
    alphabet (btrim is a set trim — no regex cost)."""
    return f"btrim({inner}, {sql_lit(_PY_STRIP_WS)})"


def nt_escape_sql(inner: str) -> str:
    """N-Triples escaping of a literal's lexical form (translate.nt_escape)."""
    return _replace_chain_sql(inner, (
        ("\\", "\\\\"), ('"', '\\"'), ("\n", "\\n"), ("\r", "\\r"),
        ("\t", "\\t")))


def lexical_sql(sql: str, dtype: T.DataType) -> str:
    """Lexical form of a typed value, NULL for NULL: timestamps in ISO
    form with the 'T' separator (translateDateTime semantics), everything
    else the string cast (booleans cast to lowercase, as Java's
    toString).  A NULL value is no term (R2RML §11), whatever its type."""
    if isinstance(dtype, (T.TimestampType, T.TimestampNTZType)):
        return f"date_format({sql}, {sql_lit(chr(39).join(('yyyy-MM-dd', 'T', 'HH:mm:ss')))})"
    return f"CAST({sql} AS STRING)"


def _col_lexical_sql(df: DataFrame, name: str) -> str:
    return lexical_sql(sql_ident(name), df.schema[name].dataType)


# source types whose lexical form holds no whitespace, no N-Triples
# metacharacter and nothing the literal/IRI encoders rewrite: their
# renders skip the trim, encode and escape chains
_CLEAN_LEXICAL = (T.ByteType, T.ShortType, T.IntegerType, T.LongType,
                  T.FloatType, T.DoubleType, T.DecimalType, T.BooleanType,
                  T.DateType, T.TimestampType, T.TimestampNTZType)


def iri_term_sql(inner: str) -> str:
    return f"concat('<', {inner}, '>')"


def literal_term_sql(body: str, datatype: Optional[str],
                     lang: Optional[str]) -> str:
    """Quoted N-Triples literal over the escaped lexical ``body``."""
    body = f"concat('\"', {body}, '\"')"
    if lang:
        return f"concat({body}, {sql_lit('@' + lang)})"
    if datatype:
        return f"concat({body}, {sql_lit('^^<' + datatype + '>')})"
    return body


def normalize_datetime_sql(inner: str) -> str:
    """functions/datatypes.normalize_datetime: strip, ' ' → 'T'."""
    return f"replace({strip_ws_sql(inner)}, ' ', 'T')"


def normalize_boolean_sql(inner: str) -> str:
    """functions/datatypes.normalize_boolean (NULL stays NULL)."""
    return (f"(CASE WHEN lower({inner}) IN ('t', 'true', '1') THEN 'true' "
            f"WHEN {inner} IS NOT NULL THEN 'false' END)")


def union_all(spark: SparkSession, parts: list) -> DataFrame:
    """The union of triple frames; an empty one for no part (a TM with
    no class and no predicate-object map emits nothing — R2RML
    generates rows only per POM/class)."""
    if not parts:
        from .engine import TRIPLE_SCHEMA
        return spark.createDataFrame([], TRIPLE_SCHEMA)
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def case_sql(index: str, vals) -> str:
    """The value ``vals[i]`` of the row whose ``index`` column is i."""
    whens = " ".join(f"WHEN {index} = {i} THEN {v}"
                     for i, v in enumerate(vals))
    return f"(CASE {whens} END)"


class KeyRow(dict):
    """The row context above a keyed dedup's aggregate: reference →
    (key column, source type, stringified), what ``source_leaf`` gives
    for the same reference below it."""


def _iri_map(position: str, iri: str) -> TermMap:
    return TermMap(kind=CONSTANT, position=position, constant=("iri", iri))


def _leaf_refs(m: TermMap) -> list:
    """The references whose values the term ``m`` renders."""
    if m.kind == TEMPLATE:
        return get_template_groups(m.template)
    if m.kind == CONSTANT:
        return []
    return [m.column if m.kind == COLUMN else m.reference]


def _edge_may_be_ws(segs: list, strings: list, edge: int) -> bool:
    """A template expansion may begin (``edge`` 0; pass both lists
    reversed and -1 for its end) with whitespace: ``segs`` are its fixed
    segments, ``strings[i]`` whether group i is a string leaf.  Another
    leaf's lexical never has whitespace, but a NULL group renders '', so
    the walk goes on past it."""
    for seg, string in zip(segs, strings + [False]):
        if seg:
            return seg[edge].isspace()
        if string:
            return True
    return False


class CatalystCompiler:
    """The compiler core of both Catalyst tiers, as SQL text: the term
    renderer, the class/predicate-object walk, the unfused per-entry
    branches, the keyed dedup and the per-TM duplicate-freeness check.
    A tier supplies only what depends on where a value comes from:

      - ``source_leaf(ctx, ref)``: a reference's (SQL, source type,
        stringified) in the tier's row context, and ``NATURAL_XSD``, its
        natural datatypes;
      - ``scan(tm)``: the source frame and its row context;
      - ``subject_unique(tm)``, ``_slot_ok(om)`` and ``_rom_ok(rom)``:
        the facts the duplicate-freeness check rests on;
      - ``_rom_triples`` and ``_fused``: its ROM join and fused
        projection.

    The reference applies term types once too, in morph-base
    (MorphBaseDataTranslator.scala:219-285, normalization :313-322),
    for both its RDB and MongoDB translators."""

    NATURAL_XSD: dict = {}
    TERM_KINDS: tuple = ()

    def __init__(self, spark: SparkSession, mapping: MappingDocument,
                 cfg: Optional[EngineConfig],
                 fused: Optional[Collection[str]]):
        check_sql_text_conf(spark)
        self.spark = spark
        self.mapping = mapping
        self.cfg = cfg or EngineConfig()
        # None: the materialization plan, every TM fused; otherwise an
        # answering plan fusing only the named TMs
        self.fused = fused

    def leaf(self, ctx, ref: str) -> tuple[str, T.DataType]:
        """A reference's (SQL, type) as the renderer reads it: the tier's
        source value, or in a ``KeyRow`` its key column, cast to its
        lexical string where the value is stringified (a pushed-down
        field)."""
        sql, dt, stringified = ctx[ref] if isinstance(ctx, KeyRow) \
            else self.source_leaf(ctx, ref)
        return (lexical_sql(sql, dt), T.StringType()) if stringified \
            else (sql, dt)

    # -- terms ----------------------------------------------------------
    def term_sql(self, ctx, m: TermMap) -> str:
        """Term map → its N-Triples term as SQL text (NULL: no term),
        the Python tier's _make_term (translate.py) over the row context
        ``ctx``.  Unresolved column references resolve by name at
        analysis (the tabular ROM join relies on that)."""
        cfg = self.cfg
        tt = m.infer_term_type()
        if m.kind == CONSTANT:
            kind, value = m.constant[0], m.constant[1]
            if kind == "iri":
                return sql_lit(f"<{value}>")
            if kind == "bnode":
                return sql_lit(f"_:{value}")
            return literal_term_sql(sql_lit(nt_escape(value)),
                                    m.datatype or m.constant[2],
                                    m.language or m.constant[3])
        if m.kind == TEMPLATE:
            return self._template_sql(ctx, m, tt)
        sql, dt = self.leaf(ctx, m.column if m.kind == COLUMN
                            else m.reference)
        lex = lexical_sql(sql, dt)
        clean = isinstance(dt, _CLEAN_LEXICAL)
        if tt == NS.RR_IRI:
            if not clean:
                # createIRI trims, then encodeURI over the whole IRI:
                # URL-unsafe characters only, ':' '/' etc. stay (the
                # reserved-chars encoder is for template group content)
                lex = strip_ws_sql(lex)
                if cfg.encode_unsafe_chars_in_uri:
                    lex = encode_url_sql(lex)
            return iri_term_sql(lex)
        if tt == NS.RR_BLANKNODE:
            # format_bnode encodes the whole id (translate.py _make_term)
            return f"concat('_:', {lex if clean else encode_url_sql(lex)})"
        dtype = m.datatype
        if dtype is None and m.language is None and cfg.infer_datatypes:
            dtype = self.NATURAL_XSD.get(type(dt))
        return literal_term_sql(self.literal_lexical_sql(lex, dt, m.datatype),
                                dtype, m.language)

    def literal_lexical_sql(self, lex: str, dt: T.DataType,
                            datatype: Optional[str]) -> str:
        """The escaped lexical form of a literal over the value lexical
        ``lex`` of source type ``dt``, in _make_term's order:
        createLiteral's trim and encodeLiteral, the normalization of an
        explicit xsd:dateTime / xsd:boolean ``datatype``, then N-Triples
        escaping."""
        cfg = self.cfg
        if not isinstance(dt, _CLEAN_LEXICAL):
            if cfg.literal_trim:
                lex = strip_ws_sql(lex)
            lex = encode_literal_sql(lex, cfg.encode_literal_quotes)
            if datatype == NS.XSD_DATETIME:
                lex = normalize_datetime_sql(lex)
            lex = nt_escape_sql(lex)
        if datatype == NS.XSD_BOOLEAN and not isinstance(dt, T.BooleanType):
            # 'true'/'false' commute with the escape
            lex = normalize_boolean_sql(lex)
        return lex

    def _template_sql(self, ctx, m: TermMap, tt: str) -> str:
        cfg = self.cfg
        iri = tt == NS.RR_IRI
        segs = compile_template(m.template)
        groups = get_template_groups(m.template)
        strip = False
        if iri:
            # createIRI trims the expanded IRI (_make_term, before its
            # encodeURI): the fixed edges trim here, and the SQL trims
            # only where a string group can reach an edge
            segs = list(segs)
            segs[0] = segs[0].lstrip(_PY_STRIP_WS)
            segs[-1] = segs[-1].rstrip(_PY_STRIP_WS)
            strings = [isinstance(self._source_type(ctx, g), T.StringType)
                       for g in groups]
            strip = _edge_may_be_ws(segs, strings, 0) \
                or _edge_may_be_ws(segs[::-1], strings[::-1], -1)
        if iri and cfg.encode_unsafe_chars_in_uri:
            # the Python tier applies encodeURI over the WHOLE expanded
            # IRI; group content is already reserved-encoded (a superset
            # of the URL-unsafe set), so that pass only ever touches the
            # fixed segments — encode them at compile time
            segs = [encode_url(s) for s in segs]
        parts = [sql_lit(segs[0])]
        nulls = []
        for g, seg in zip(groups, segs[1:]):
            sql, dt = self.leaf(ctx, g)
            lex = lexical_sql(sql, dt)
            if iri and cfg.encode_unsafe_chars_in_db_values \
                    and isinstance(dt, T.StringType):
                lex = encode_reserved_sql(lex)
            nulls.append(f"({lex} IS NULL)")
            # a NULL value contributes '' (MorphRDBDataTranslator.scala:357-372)
            parts += [f"coalesce({lex}, '')", sql_lit(seg)]
        expanded = f"concat({', '.join(parts)})"
        if nulls:
            # all groups NULL → no term
            expanded = (f"(CASE WHEN {' AND '.join(nulls)} THEN NULL "
                        f"ELSE {expanded} END)")
        if iri:
            return iri_term_sql(strip_ws_sql(expanded) if strip
                                else expanded)
        if tt == NS.RR_BLANKNODE:
            # format_bnode encodes the whole id, groups included
            return f"concat('_:', {encode_url_sql(expanded)})"
        # createLiteral trims and encodes the whole expanded value
        return literal_term_sql(
            self.literal_lexical_sql(expanded, T.StringType(), m.datatype),
            m.datatype, m.language)

    def _source_type(self, ctx, ref: str) -> T.DataType:
        """A reference's source type (a stringified value's too)."""
        return (ctx[ref] if isinstance(ctx, KeyRow)
                else self.source_leaf(ctx, ref))[1]

    def term_null_sql(self, ctx, m: TermMap) -> Optional[str]:
        """SQL text true exactly where ``term_sql(ctx, m)`` is NULL,
        tested on the leaves so a null guard does not build the term
        string twice; None when the term is never NULL.  A reference is
        NULL iff its value is (every lexical keeps NULL as NULL), a
        template iff every group is (NULL groups render '')."""
        refs = _leaf_refs(m)
        if not refs:
            return None              # a constant, or a group-less template
        return "(" + " AND ".join(f"({self.leaf(ctx, r)[0]} IS NULL)"
                                  for r in refs) + ")"

    # -- triples map ------------------------------------------------------
    def graph_variants(self, ctx, gms: list) -> list:
        """[(graph sql, row condition sql | None)] of a triple whose
        graph maps are ``gms``: quad combination (translate.py:419-452)
        — no graph map is the default graph; a graph map that renders
        NULL drops that graph, and only a row where every render is
        NULL falls back to the default graph (constant graph maps fold
        to unconditional variants)."""
        gsqls = [self.term_sql(ctx, gm) for gm in gms]
        if not gsqls:
            return [(NULL_G, None)]
        if all(gm.kind == CONSTANT for gm in gms):
            return [(g, None) for g in gsqls]
        allnull = " AND ".join(f"({g} IS NULL)" for g in gsqls)
        return [(g, f"({g} IS NOT NULL)") for g in gsqls] \
            + [(NULL_G, f"({allnull})")]

    def _entries(self, ctx, tm: TriplesMap) -> tuple[list, list]:
        """A TM's per-row emissions: ``(pred map, obj map, graph, cond)``
        entries for its classes and object maps, and ``(pred map, rom,
        graph, cond)`` ROM slots; the graph and the row condition are SQL
        text.  A class triple lands in the subject map's graphs, a POM
        triple in subject ∪ POM graphs."""
        rdf_type = _iri_map("predicate", NS.RDF_TYPE)
        sub_vars = self.graph_variants(ctx, tm.graph_maps)
        entries = [(rdf_type, _iri_map("object", cls), gc, cond)
                   for cls in tm.class_uris for gc, cond in sub_vars]
        roms = []
        for pom in tm.predicate_object_maps:
            gvars = self.graph_variants(ctx, tm.graph_maps + pom.graph_maps)
            for pm in pom.predicate_maps:
                entries += [(pm, om, gc, cond) for om in pom.object_maps
                            for gc, cond in gvars]
                roms += [(pm, rom, gc, cond)
                         for rom in pom.ref_object_maps
                         for gc, cond in gvars]
        return entries, roms

    def tm_triples(self, tm: TriplesMap) -> DataFrame:
        """One triples map → (subj, pred, obj, graph).  A fused TM
        (every TM in materialization; in answering, one a
        variable-predicate pattern may match) puts every entry into the
        tier's one projection over ONE scan (the compile-time analogue of
        the reference's self-union elimination,
        AbstractQueryAtomicMongo.scala:331-349); otherwise each entry is
        a branch with a constant pred, which Catalyst folds away when a
        downstream pattern filter cannot match it.  Each ROM slot is a
        join."""
        frame, ctx = self.scan(tm)
        subj = self.term_sql(ctx, tm.subject_map)
        subj_null = self.term_null_sql(ctx, tm.subject_map)
        entry_maps, roms = self._entries(ctx, tm)
        entries = [(self.term_sql(ctx, pm), self.term_sql(ctx, om), graph,
                    cond, self.term_null_sql(ctx, om))
                   for pm, om, graph, cond in entry_maps]
        if entries and (self.fused is None or tm.name in self.fused):
            parts = self._fused(frame, subj, subj_null, entries)
        else:
            parts = [self._branch(frame, subj, subj_null, *e)
                     for e in entries]
        parts += [self._rom_triples(ctx, frame, subj, subj_null,
                                    self.term_sql(ctx, pm), *r)
                  for pm, *r in roms]
        return union_all(self.spark, parts)

    # -- keyed dedup ------------------------------------------------------
    def keyed_triples(self, tm: TriplesMap):
        """``(frame, None)``: the TM's triples deduplicated on keys, not
        rendered strings; ``(None, why)`` when that is not provably exact.

        Each row explodes one narrow struct per entry: the entry id and
        the typed source value of every leaf the entry reads (NULL for
        the leaves it does not read), after the null guards.  The
        aggregate groups those structs, and the terms render above it
        through the same ``term_sql``, over a ``KeyRow`` context.  Equal
        keys render equal triples.  The converse needs two facts: the
        entries are pairwise disjoint, and every term renders
        injectively from its leaves (``term_key_refusal``)."""
        if any(pom.ref_object_maps for pom in tm.predicate_object_maps):
            return None, f"{tm.name}: a referencing object map"
        gms = tm.graph_maps + [gm for pom in tm.predicate_object_maps
                               for gm in pom.graph_maps]
        if any(gm.kind != CONSTANT for gm in gms):
            return None, f"{tm.name}: a graph map that is not constant"
        frame, ctx = self.scan(tm)
        entries, _roms = self._entries(ctx, tm)

        def fixed(m: TermMap) -> Optional[str]:
            return self.term_sql(ctx, m) if m.kind == CONSTANT else None

        sigs = [(fixed(pm), fixed(om), graph)
                for pm, om, graph, _cond in entries]
        for i, a in enumerate(sigs):
            for b in sigs[i + 1:]:
                if not any(x is not None and y is not None and x != y
                           for x, y in zip(a, b)):
                    return None, (f"{tm.name}: two entries on predicate "
                                  f"{a[0] or b[0] or '(per row)'} may "
                                  f"emit the same triple")

        def key_type(ref: str) -> T.DataType:
            _sql, dt, stringified = self.source_leaf(ctx, ref)
            return T.StringType() if stringified \
                and not isinstance(dt, STRING_CHAIN_FIXED) else dt

        sm = tm.subject_map
        terms = [sm] + [m for pm, om, _g, _c in entries for m in (pm, om)]
        for m in terms:
            why = term_key_refusal(m, key_type, self.cfg)
            if why is not None:
                return None, f"{tm.name}: {why}"
        if not entries:
            return union_all(self.spark, []), None

        reads = [_leaf_refs(sm) + _leaf_refs(pm) + _leaf_refs(om)
                 for pm, om, _g, _c in entries]
        leaves = list(dict.fromkeys(r for refs in reads for r in refs))
        src = {r: self.source_leaf(ctx, r) for r in leaves}
        # a stringified value that passed the proof (STRING_CHAIN_FIXED)
        # renders as the typed value does -- except as a literal that
        # takes its natural datatype from the type.  Elsewhere it renders
        # typed: kg_docs' subject then skips a 30-replace encode chain
        # per triple
        literal_refs = {r for m in terms if m.kind in (COLUMN, REFERENCE)
                        and m.infer_term_type() == NS.RR_LITERAL
                        for r in _leaf_refs(m)}
        key = KeyRow({r: (f"_k{j}", src[r][1],
                          src[r][2] and r in literal_refs)
                      for j, r in enumerate(leaves)})
        structs = []
        for e, ((_pm, om, _g, _c), refs) in enumerate(zip(entries, reads)):
            fields = [f"{e} AS _e"] + [
                (src[r][0] if r in refs
                 else f"CAST(NULL AS {src[r][1].simpleString()})")
                + f" AS _k{j}" for j, r in enumerate(leaves)]
            st = f"struct({', '.join(fields)})"
            obj_null = self.term_null_sql(ctx, om)
            structs.append(st if obj_null is None
                           else f"(CASE WHEN NOT {obj_null} THEN {st} END)")
        subj_null = self.term_null_sql(ctx, sm)
        if subj_null is not None:
            frame = frame.where(f"(NOT {subj_null})")
        keys = (frame.selectExpr(f"explode(array({', '.join(structs)})) AS _k")
                .where("_k IS NOT NULL").select("_k.*").distinct())

        def per_entry(vals) -> str:
            return vals[0] if len(set(vals)) == 1 else case_sql("_e", vals)

        return keys.selectExpr(
            f"{self.term_sql(key, sm)} AS subj",
            f"{per_entry([self.term_sql(key, e[0]) for e in entries])} AS pred",
            f"{per_entry([self.term_sql(key, e[1]) for e in entries])} AS obj",
            f"{per_entry([e[2] for e in entries])} AS graph"), None

    @staticmethod
    def _branch(frame: DataFrame, subj: str, subj_null: Optional[str],
                pred: str, obj: str, graph: str, cond: Optional[str],
                obj_null: Optional[str]) -> DataFrame:
        """One entry as its own projection.  The null guards test the
        leaves (term_null_sql): a row is dropped iff its subject or
        object renders NULL, without rendering either twice."""
        if cond is not None:
            frame = frame.where(cond)
        guards = [f"(NOT {n})" for n in (subj_null, obj_null)
                  if n is not None]
        if guards:
            frame = frame.where(" AND ".join(guards))
        return frame.selectExpr(f"{subj} AS subj", f"{pred} AS pred",
                                f"{obj} AS obj", f"{graph} AS graph")

    # -- compile-time duplicate-freeness (dedup elimination) ------------
    def tm_distinct(self, tm: TriplesMap) -> bool:
        """The TM alone provably emits no duplicate triple: one row is
        one subject (no iterator or pushDown, a subject unique per row
        by the tier's ``subject_unique``), no named graphs (quads
        multiply per (s, p, o)), constant IRI predicates, every object
        slot single-valued (``_slot_ok``) and every ROM of multiplicity
        one per row (``_rom_ok``), and a predicate emitted twice only
        with pairwise-distinct constant objects."""
        ls = tm.logical_source
        slots = pred_slots(tm)
        if ls.iterator or ls.pushdowns or tm.graph_maps or slots is None \
                or any(pom.graph_maps for pom in tm.predicate_object_maps) \
                or not self.subject_unique(tm):
            return False
        by_pred: dict = {NS.RDF_TYPE: [("iri", cls)
                                       for cls in tm.class_uris]}
        for p, (oms, roms) in slots.items():
            if not all(map(self._slot_ok, oms)) \
                    or not all(map(self._rom_ok, roms)):
                return False
            # None: a per-row value, which may equal another's
            by_pred.setdefault(p, []).extend(
                [tuple(om.constant) if om.kind == CONSTANT
                 and om.constant is not None else None for om in oms]
                + [None] * len(roms))
        return all(len(sigs) < 2 or (None not in sigs
                                     and len(set(sigs)) == len(sigs))
                   for sigs in by_pred.values())


def provably_distinct(tms, tm_distinct) -> bool:
    """True when the triples maps ``tms`` together provably emit no
    duplicate triple, so the dedup exchange can be skipped — the
    compile-time counterpart of the reference's Jena-set semantics (it
    needs a Model because it cannot prove this; we can, from
    xrr:uniqueRef + constant predicates + single-valued slots).  Each TM
    by ``tm_distinct`` (its tier's CatalystCompiler.tm_distinct); every
    pair of TMs with disjoint subject spaces (distinct term types, or
    neither fixed prefix a prefix of the other) or disjoint constant
    predicate sets."""
    tms = list(tms)
    return all(tm_distinct(tm) for tm in tms) and overlapping_pair(tms) is None


def overlapping_pair(tms):
    """The first pair of triples maps that may emit a common triple, or
    None when every pair has disjoint subject spaces or disjoint
    constant predicate sets."""
    infos = [(tm, subject_space(tm), tm_pred_iris(tm)) for tm in tms]
    for i, (tm_a, sp_a, pr_a) in enumerate(infos):
        for tm_b, sp_b, pr_b in infos[i + 1:]:
            if subject_spaces_disjoint(sp_a, sp_b):
                continue
            if pr_a is not None and pr_b is not None and not (pr_a & pr_b):
                continue
            return tm_a, tm_b
    return None


class NativeCompiler(CatalystCompiler):
    """The tabular tier: leaves are the columns of a table or SQL
    query."""

    # R2RML natural mapping, the reference's DatatypeMapper
    # (MorphRDBDataTranslator.scala:59-74)
    NATURAL_XSD = {
        T.IntegerType: NS.XSD_INTEGER, T.LongType: NS.XSD_INTEGER,
        T.ShortType: NS.XSD_INTEGER, T.ByteType: NS.XSD_INTEGER,
        T.DoubleType: NS.XSD + "double", T.FloatType: NS.XSD + "double",
        T.DecimalType: NS.XSD_DECIMAL, T.BooleanType: NS.XSD_BOOLEAN,
        T.TimestampType: NS.XSD_DATETIME, T.TimestampNTZType: NS.XSD_DATETIME,
        T.DateType: NS.XSD + "date",
    }
    TERM_KINDS = (CONSTANT, COLUMN, TEMPLATE)

    def __init__(self, spark: SparkSession, mapping: MappingDocument,
                 tables: dict[str, DataFrame],
                 cfg: Optional[EngineConfig] = None,
                 fused: Optional[Collection[str]] = None,
                 tm_row_filters: Optional[dict] = None):
        """fused: the TMs compiled to ONE projection (index explode +
        CASE), None for every TM — best for materialization throughput
        and for a TM a variable-predicate pattern reads whole.  Every
        other TM emits one union branch per entry with a CONSTANT pred —
        best when a pattern's constant pred prunes the branches.

        tm_row_filters: {tm_name: [ {col: constraint, ...}, ... ]} —
        OR-of-conjunctions row constraints derived by rewrite.py's
        pushdown, applied to the TM's OWN scan only (a ROM parent scan
        stays complete).  A constraint is a raw-equality lexical string
        (template inversion), ('lexeq', lex) rendered-literal equality,
        ('cmp', ((op, num), ...)) numeric predicates, or
        ('lexpat', kind, pat) STRSTARTS/STRENDS/CONTAINS mirrors — see
        _constraint_sql."""
        super().__init__(spark, mapping, cfg, fused)
        self.tables = tables
        self.tm_row_filters = tm_row_filters or {}

    def _source_df(self, tm: TriplesMap) -> DataFrame:
        ls = tm.logical_source
        if ls.kind == "table":
            if ls.value in self.tables:
                return self.tables[ls.value]
            return self.spark.table(ls.value)
        # rr:sqlQuery over registered temp views
        return self.spark.sql(ls.value)

    def scan(self, tm: TriplesMap):
        """The TM's rows, row filters applied; the row context is the
        frame itself."""
        df = self._source_df(tm)
        flt = self.tm_row_filters.get(tm.name)
        if flt:
            df = df.where(self._constraint_sql(df, flt))
        return df, df

    @staticmethod
    def source_leaf(df: DataFrame, ref: str) -> tuple:
        return sql_ident(ref), df.schema[ref].dataType, False

    def subject_unique(self, tm: TriplesMap) -> bool:
        return subject_renders_unique(tm, self._source_df(tm))

    @staticmethod
    def _slot_ok(om: TermMap) -> bool:
        return True                  # is_tabular_compilable admits only these

    def _rom_ok(self, rom) -> bool:
        """Multiplicity one per child row: a join condition on a
        declared-unique parent key."""
        parent = self.mapping.triples_maps[rom.parent_tm]
        puniq = set(parent.logical_source.unique_refs)
        return any(jc.parent_ref in puniq for jc in rom.join_conditions)

    def _fused(self, df: DataFrame, subj: str, subj_null: Optional[str],
               entries: list) -> list:
        """Explode a flat INDEX over the scan and pick each row's (pred,
        obj, graph) with a CASE — one output string per produced row
        instead of an array of N pre-built structs per source row (~10%
        off the translate stage at 33M triples).  Entries under a
        per-row graph condition stay branches."""
        flat = [e for e in entries if e[3] is None]
        conditional = [e for e in entries if e[3] is not None]
        if len(flat) < 2:
            return [self._branch(df, subj, subj_null, *e)
                    for e in flat + conditional]
        base = df.selectExpr(
            "*", f"explode(sequence(0, {len(flat) - 1})) AS _i")
        preds, objs, graphs, _conds, obj_nulls = zip(*flat)
        # graph-less mapping (the common case): keep the constant NULL
        # instead of a per-row CASE over the index
        graph = NULL_G if all(g == NULL_G for g in graphs) \
            else case_sql("_i", graphs)
        obj_null = None if all(n is None for n in obj_nulls) \
            else case_sql("_i", [n or "false" for n in obj_nulls])
        return [self._branch(base, subj, subj_null, case_sql("_i", preds),
                             case_sql("_i", objs), graph, None, obj_null)] \
            + [self._branch(df, subj, subj_null, *e) for e in conditional]

    @staticmethod
    def _term_source_columns(m: TermMap) -> list[str]:
        if m.kind == TEMPLATE:
            return get_template_groups(m.template)
        if m.kind == COLUMN:
            return [m.column]
        return []

    def _parent_key_renders_object(self, parent_tm, pdf: DataFrame,
                                   child_df: DataFrame, rom) -> bool:
        """Self-join-elimination precondition (the reference's
        xrr:uniqueRef / AbstractQueryAtomicMongo.scala:122-252 analogue):
        when the parent's subject term is built from EXACTLY the join
        column, the object can be rendered from the child's own join key
        — the parent scan degrades to a key-existence check (left_semi
        on bare keys) instead of an inner join shipping built subject
        strings.  Requires a single equi-condition, a DECLARED-UNIQUE
        parent key (xrr:uniqueRef, xR2RMLLogicalSource.scala:17-22 — the
        reference's precondition; without it a duplicate-keyed parent
        would emit N duplicate triples under the inner join but one
        under the probe, changing the un-deduplicated plan's
        multiplicity) and
        identical source dtypes (exact, incl. decimal precision) so both
        sides render the same lexical form."""
        if len(rom.join_conditions) != 1:
            return False
        jc = rom.join_conditions[0]
        if jc.parent_ref not in parent_tm.logical_source.unique_refs:
            return False
        if self._term_source_columns(parent_tm.subject_map) \
                != [jc.parent_ref]:
            return False
        if jc.parent_ref not in pdf.columns \
                or jc.child_ref not in child_df.columns:
            return False
        if pdf.schema[jc.parent_ref].dataType \
                != child_df.schema[jc.child_ref].dataType:
            return False
        # the substitution column must not shadow a DIFFERENT live child
        # column (the subject/pred expressions may reference it)
        if jc.parent_ref != jc.child_ref \
                and jc.parent_ref in child_df.columns:
            return False
        return True

    def _rom_triples(self, _ctx, child_df: DataFrame, subj: str,
                     subj_nn: Optional[str], pred: str, rom, graph: str,
                     cond: Optional[str]) -> DataFrame:
        """Referencing object map = equi-join child×parent on the join
        columns; the reference generates a SQL LEFT JOIN
        (MorphRDBUnfolder.scala:284-320) — inner join is equivalent for
        triple generation (NULL object ⇒ no triple).

        Shuffle-byte minimization (the 100-TB lever): the child side
        shuffles only the raw join keys — subject and predicate strings
        are CONSTRUCTED AFTER the exchange, so a 30M-row child ships
        ~8-byte keys instead of ~70 bytes of pre-built IRI text per row.
        When the parent subject is keyed exactly by the join column the
        join itself collapses to a left_semi existence probe
        (_parent_subj_from_child_key).  ``subj``, ``pred``, ``graph``,
        ``subj_nn`` (the child subject's null condition) and the row
        condition ``cond`` are SQL text."""
        if not rom.join_conditions:
            # zero join conditions: the reference's intersection of zero
            # term sets is empty — never a cross product
            return union_all(self.spark, [])
        parent_tm = self.mapping.triples_maps[rom.parent_tm]
        pdf = self._source_df(parent_tm)
        pcols = [jc.parent_ref for jc in rom.join_conditions]
        ccols = [jc.child_ref for jc in rom.join_conditions]
        if cond is not None:
            child_df = child_df.where(cond)
        if subj_nn is not None:
            # cheap child-subject null guard BEFORE the join: same rows
            # dropped as the old isNotNull(<rendered subj>) post-filter,
            # but tested on raw columns and pruning join probes early
            child_df = child_df.where(f"(NOT {subj_nn})")

        if self._parent_key_renders_object(parent_tm, pdf, child_df, rom):
            # existence probe: bare parent keys, no subject strings built
            parent_keys = pdf.select(F.col(pcols[0]).alias(ccols[0]))
            kept = child_df.join(parent_keys, ccols[0], "left_semi") \
                           .withColumn(pcols[0], F.col(ccols[0]))
            key_obj = self.term_sql(kept, parent_tm.subject_map)
            return kept.selectExpr(f"{subj} AS subj", f"{pred} AS pred",
                                   f"{key_obj} AS obj", f"{graph} AS graph")

        parent_nn = self.term_null_sql(pdf, parent_tm.subject_map)
        if parent_nn is not None:
            # null parent subjects can never produce a triple (the old
            # plan dropped them via isNotNull(obj) AFTER the join)
            pdf = pdf.where(f"(NOT {parent_nn})")
        parent_sel = pdf.select(
            F.expr(self.term_sql(pdf, parent_tm.subject_map)).alias("_psubj"),
            *[F.col(c).alias(f"_pk{i}") for i, c in enumerate(pcols)])
        # ship raw term-source columns through the exchange, not built
        # strings: the subj/pred expressions reference child columns by name
        # and resolve against the joined plan, so construction happens
        # AFTER the shuffle (Catalyst prunes the child side to the
        # source columns + join keys)
        joined = child_df.join(parent_sel, self._join_cond(ccols), "inner")
        return joined.selectExpr(f"{subj} AS subj", f"{pred} AS pred",
                                 "_psubj AS obj", f"{graph} AS graph")

    @staticmethod
    def _join_cond(ccols: list) -> Column:
        cond = None
        for i, c in enumerate(ccols):
            eq = F.col(c) == F.col(f"_pk{i}")
            cond = eq if cond is None else (cond & eq)
        return cond

    _NUMERIC_TYPES = (T.ByteType, T.ShortType, T.IntegerType, T.LongType,
                      T.FloatType, T.DoubleType, T.DecimalType)
    def _constraint_sql(self, df: DataFrame, constraints: list) -> str:
        """OR of constraint conjunctions, as SQL text.  Values are
        raw-equality strings (template inversions), ('irieq', lex)
        stripped COLUMN-IRI equality, ('lexeq', lex) rendered-literal
        lexical equality, ('cmp', ((op, num), ...)) numeric value
        predicates or ('lexpat', kind, pat) pattern predicates.
        Equalities/comparisons on numeric columns convert to the native
        type so they reach the parquet scan as PushedFilters; string
        literal equality mirrors the render pipeline exactly (trim +
        encode_literal + NT escape) so it is sound AND exact."""
        def typed_eq(col: str, value: str) -> str:
            dtype = df.schema[col].dataType
            ident = sql_ident(col)
            try:
                if isinstance(dtype, (T.ByteType, T.ShortType,
                                      T.IntegerType, T.LongType)):
                    return f"({ident} = {int(value)})"
                if isinstance(dtype, (T.FloatType, T.DoubleType,
                                      T.DecimalType)):
                    return f"({ident} = {double_sql(float(value))})"
            except ValueError:
                return "false"        # non-numeric lexical: no row matches
            if isinstance(dtype, T.StringType):
                return f"({ident} = {sql_lit(value)})"
            return f"({_col_lexical_sql(df, col)} = {sql_lit(value)})"

        def rendered_lexical(col: str) -> str:
            # the COLUMN-literal lexical of term_sql (rewrite.py leaves
            # explicit xsd:dateTime/boolean columns unconstrained)
            dtype = df.schema[col].dataType
            return self.literal_lexical_sql(_col_lexical_sql(df, col),
                                            dtype, None)

        def lex_eq(col: str, lex: str) -> str:
            dtype = df.schema[col].dataType
            if isinstance(dtype, self._NUMERIC_TYPES):
                # value equality is a SUPERSET of lexical equality (the
                # evaluator re-applies the exact term match) and pushes
                # to parquet as an EqualTo on the native type
                return typed_eq(col, lex)
            return f"({rendered_lexical(col)} = {sql_lit(lex)})"

        def num_cmp(col: str, ops) -> str:
            dtype = df.schema[col].dataType
            ident = sql_ident(col)
            # a non-numeric column mirrors numeric_value of the RENDERED
            # literal, trimmed like the render (an NBSP-padded "7" is 7)
            lex = _col_lexical_sql(df, col)
            if self.cfg.literal_trim:
                lex = strip_ws_sql(lex)
            base = ident if isinstance(dtype, self._NUMERIC_TYPES) \
                else f"try_cast({lex} AS DOUBLE)"
            # natively-DECIMAL columns: a double literal forces
            # cast(col as double) > lit, which parquet cannot push.  When
            # the literal is exactly representable at the column's scale
            # AND the column's values are double-exact (precision <= 15,
            # within 2^53), a typed decimal compare is semantically
            # identical to the engine's double compare and lands in
            # PushedFilters (row-group skipping at scale).
            dec_ok = isinstance(dtype, T.DecimalType) and dtype.precision <= 15
            conds = []
            for op, lex in ops:
                if op not in CMP_OPS:
                    continue    # unknown op: skip the conjunct (superset,
                    # sound) — rewrite.py only emits the five CMP_OPS
                cond = None
                if dec_ok:
                    try:
                        d = Decimal(lex)
                        dq = d.quantize(Decimal(1).scaleb(-dtype.scale))
                        if d == dq and \
                                len(dq.as_tuple().digits) <= dtype.precision:
                            cond = (f"({ident} {op} CAST({format(dq, 'f')}BD"
                                    f" AS {dtype.simpleString().upper()}))")
                    except (InvalidOperation, ValueError):
                        return "false"
                if cond is None:
                    try:
                        cond = f"({base} {op} {double_sql(float(lex))})"
                    except ValueError:
                        return "false"
                conds.append(cond)
            return and_sql(conds)

        def pred_sql(col: str, value) -> str:
            if isinstance(value, tuple):
                if value[0] == "irieq":
                    # COLUMN-IRI render strips the value (createIRI trim)
                    # — mirror on the stripped column; non-string columns
                    # render from the cast (no padding possible)
                    if isinstance(df.schema[col].dataType, T.StringType):
                        return (f"({strip_ws_sql(sql_ident(col))} = "
                                f"{sql_lit(value[1])})")
                    return typed_eq(col, value[1])
                if value[0] == "lexeq":
                    return lex_eq(col, value[1])
                if value[0] == "cmp":
                    return num_cmp(col, value[1])
                if value[0] == "lexpat":
                    # STRSTARTS/STRENDS/CONTAINS over the rendered
                    # lexical (STR() of the produced literal)
                    fn = {"strstarts": "startswith",
                          "strends": "endswith"}.get(value[1], "contains")
                    return (f"{fn}({rendered_lexical(col)}, "
                            f"{sql_lit(value[2])})")
            return typed_eq(col, value)

        # a non-column reference (doc-tier constraint leaking into a
        # tabular scan) is dropped: that keeps a SUPERSET of the rows —
        # sound
        return or_sql([and_sql([pred_sql(col, value)
                                for col, value in conj.items()
                                if col in df.columns])
                       for conj in constraints]) if constraints else "true"


# ---------------------------------------------------------------------------
# Module-level uniqueness / subject-space proofs (shared with rewrite.py's
# cross-pattern constraint propagation)
# ---------------------------------------------------------------------------

# Rendered-value languages per source dtype, for template injectivity: a
# value of this type renders as at most one LEAD character, then one or
# more BODY characters (a superset of its string casts: integers
# "-12", decimals "-1.50", dates "+12000-01-01", booleans).  Exactly these
# types key a dedup (term_key_refusal): equal values render alike and
# distinct values differently.  A string's renders are trimmed or
# encoded many-to-one, and a double's grouping merges -0.0/0.0 and NaN.
_DIGITS = "0123456789"
RENDER_ALPHABET = {
    T.ByteType: ("-", _DIGITS), T.ShortType: ("-", _DIGITS),
    T.IntegerType: ("-", _DIGITS), T.LongType: ("-", _DIGITS),
    T.DecimalType: ("-", _DIGITS + "."), T.DateType: ("+-", _DIGITS + "-"),
    T.BooleanType: ("", "truefals"),
}
# the RENDER_ALPHABET types whose characters no string chain (trim, the
# encoders, N-Triples escaping) changes -- not dates, whose '+' the
# reserved-character encoder rewrites: a stringified (pushed-down) value
# of one of these keys a dedup and renders as its source type
STRING_CHAIN_FIXED = (T.ByteType, T.ShortType, T.IntegerType, T.LongType,
                      T.DecimalType, T.BooleanType)
# dtypes whose string render is injective on distinct values (TIMESTAMP
# truncates sub-second precision; FLOAT/DOUBLE excluded out of caution)
NON_INJECTIVE_RENDER = (T.TimestampType, T.TimestampNTZType,
                        T.FloatType, T.DoubleType)


def subject_renders_unique(tm: TriplesMap, df: DataFrame) -> bool:
    """True when the TM's subject term is PROVABLY distinct per source
    row: built over a declared-unique reference (xrr:uniqueRef,
    xR2RMLLogicalSource.scala:17-22 — read as strict uniqueness: at most
    one row per value) through an injective render.  Single-group
    templates are injective in the value string (fixed prefix/suffix; IRI
    percent-encoding encodes '%' first so it is injective too);
    multi-group templates additionally need bounded value alphabets and
    separators starting outside them."""
    sm = tm.subject_map
    uniq = set(tm.logical_source.unique_refs)
    if sm.kind == COLUMN:
        col = sm.column
        if col not in uniq or col not in df.columns:
            return False
        return not isinstance(df.schema[col].dataType, NON_INJECTIVE_RENDER)
    if sm.kind != TEMPLATE:
        return False                # constant/dynamic subject: no proof
    groups = get_template_groups(sm.template)
    if not groups or not any(g in uniq for g in groups):
        return False
    if any(g not in df.columns for g in groups):
        return False
    dtypes = [df.schema[g].dataType for g in groups]
    if any(isinstance(dt, NON_INJECTIVE_RENDER) for dt in dtypes):
        return False
    if len(groups) == 1:
        return True
    # multi-group: bounded alphabets + delimiting separators.  NULL
    # caveat: a NULL group renders '' — sound because uniqueRef is taken
    # as strict (no two rows share the key, NULL included).
    alphabet = set()
    for dt in dtypes:
        lang = RENDER_ALPHABET.get(type(dt))
        if lang is None:
            return False            # string/unbounded value alphabet
        alphabet.update(*lang)
    rest = sm.template
    seps = []
    for g in groups:
        _fixed, _, rest = rest.partition("{" + g + "}")
        seps.append(_fixed)
    for sep in seps[1:]:            # separators BETWEEN groups
        if not sep or sep[0] in alphabet:
            return False
    return True


def term_key_refusal(m: TermMap, leaf_type, cfg: EngineConfig) -> Optional[str]:
    """None when the term ``m`` renders injectively from the typed
    values of its leaves, NULL included: equal terms then mean equal
    values, so a dedup on the values is exact.  Otherwise, why not.
    ``leaf_type(ref)`` is a leaf's source type, and a string type for a
    stringified (pushed-down) value outside STRING_CHAIN_FIXED.

    Admitted: constants; references to RENDER_ALPHABET types (the
    render adds fixed text around one lexical); templates over those
    types whose fixed text the literal chains or the Python tier's IRI
    trim leave alone and whose separators parse uniquely
    (``template_parses_unique``).  An explicit xsd:boolean maps every
    non-boolean lexical but 'true' to 'false', so it is refused."""
    refs = _leaf_refs(m)
    if not refs:
        return None                  # constant text
    what = f"{m.position} map {m.template or m.column or m.reference!r}"
    for ref in refs:
        dt = leaf_type(ref)
        if type(dt) not in RENDER_ALPHABET:
            return f"{what} reads {ref} as {dt.simpleString()}"
    literal = m.infer_term_type() == NS.RR_LITERAL
    if literal and m.datatype == NS.XSD_BOOLEAN and (
            m.kind == TEMPLATE
            or not isinstance(leaf_type(refs[0]), T.BooleanType)):
        return f"{what} normalizes its values to xsd:boolean"
    if m.kind != TEMPLATE:
        return None
    segs = compile_template(m.template)
    if any(c.isspace() or (literal and c in '\\"_')
           for seg in segs for c in seg):
        return f"{what} has text around its groups the render changes"
    if not literal and (m.infer_term_type() == NS.RR_BLANKNODE
                        or cfg.encode_unsafe_chars_in_uri):
        segs = [encode_url(s) for s in segs]
    if not template_parses_unique(
            [RENDER_ALPHABET[type(leaf_type(g))] for g in refs], segs[1:-1]):
        return f"{what}: its separators do not delimit the group values"
    return None


def template_parses_unique(langs, seps) -> bool:
    """True when group values, each '' (NULL) or a word of its
    RENDER_ALPHABET language ``(lead, body)``, joined by the n-1 fixed
    ``seps`` parse back into one tuple only.  Decided exactly on the
    template's automaton: it is unambiguous iff no state pair off the
    diagonal of its self-product lies on an accepting path.  So
    ``{a}-{b}`` over integers qualifies ("1--2" is (1, -2)), and
    ``{a}-{b}-{c}`` does not: (NULL, 5, -3) and (-5, NULL, 3) both
    render "-5--3"."""
    delta: dict = {}                 # (state, char) -> target states
    eps: dict = {}                   # state -> its one ε-successor
    n = len(langs)
    final = 3 * n
    fresh = itertools.count(final + 1).__next__

    def edge(p, c, q):
        delta.setdefault((p, c), set()).add(q)

    for i, (lead, body) in enumerate(langs):
        start, led, inside = 3 * i, 3 * i + 1, 3 * i + 2
        for c in lead:
            edge(start, c, led)
        for c in body:
            edge(start, c, inside)
            edge(led, c, inside)
            edge(inside, c, inside)
        cur = final if i == n - 1 else fresh()
        eps[start] = eps[inside] = cur
        if i < n - 1:
            for c in seps[i]:
                nxt = fresh()
                edge(cur, c, nxt)
                cur = nxt
            eps[cur] = 3 * (i + 1)

    def closure(p):
        while p is not None:
            yield p
            p = eps.get(p)

    chars = {c for _p, c in delta}

    def step(p, c):
        return {q for r in closure(p) for q in delta.get((r, c), ())}

    def accepts(p):
        return final in closure(p)

    seen, todo, back = {(0, 0)}, [(0, 0)], {}
    while todo:
        p, q = todo.pop()
        for c in chars:
            for pq in ((a, b) for a in step(p, c) for b in step(q, c)):
                back.setdefault(pq, set()).add((p, q))
                if pq not in seen:
                    seen.add(pq)
                    todo.append(pq)
    useful = {(p, q) for p, q in seen if accepts(p) and accepts(q)}
    todo = list(useful)
    while todo:
        for pq in back.get(todo.pop(), ()):
            if pq not in useful:
                useful.add(pq)
                todo.append(pq)
    return all(p == q for p, q in useful)


def subject_renders_unique_schemaless(tm: TriplesMap) -> bool:
    """Document-tier twin of subject_renders_unique — no schema is
    available, so only the shapes that are injective for ANY value
    alphabet qualify: a SINGLE-group subject template whose group is a
    declared-unique reference (xrr:uniqueRef,
    xR2RMLLogicalSource.scala:17-22).  The group must be a plain
    (non-wildcard) path — a wildcard group renders one subject per
    matched element.  Restricted to NO-iterator TMs so that one source
    row IS one document: under an iterator a subject can repeat across
    the document's items, and item-relative references take several
    values per subject, which breaks cross-pattern AND-merging.

    uniqueRef is read as strict uniqueness of the RENDERED lexical
    (at most one document per stripped value lexical — the same
    strictness leap the tabular proof documents for NULLs): distinct
    documents then render distinct subjects, because a single-group
    template is injective in the value string (fixed prefix/suffix;
    percent-encoding encodes '%' first)."""
    if tm.logical_source.iterator:
        return False
    sm = tm.subject_map
    uniq = set(tm.logical_source.unique_refs)
    if not uniq:
        return False
    if sm.kind == TEMPLATE:
        groups = get_template_groups(sm.template)
        return (len(groups) == 1 and groups[0] in uniq
                and not any(ch in groups[0] for ch in "*[]()@"))
    return False


def subject_space(tm: TriplesMap):
    """(term-type, fixed-prefix) of every subject this TM renders, or
    None when unbounded.  Two spaces are disjoint when the term types
    differ or neither prefix is a prefix of the other."""
    sm = tm.subject_map
    tt = sm.infer_term_type()
    if sm.kind == TEMPLATE:
        groups = get_template_groups(sm.template)
        prefix = sm.template.partition("{" + groups[0] + "}")[0] \
            if groups else sm.template
        return (tt, prefix)
    if sm.kind == COLUMN:
        return (tt, "")
    if sm.kind == CONSTANT and sm.constant is not None:
        return (tt, sm.constant[1])
    return None


def subject_spaces_disjoint(a, b) -> bool:
    """Disjointness of two subject_space() results (None = unbounded)."""
    if a is None or b is None:
        return False
    (tt_a, px_a), (tt_b, px_b) = a, b
    if tt_a != tt_b:
        return True
    return not (px_a.startswith(px_b) or px_b.startswith(px_a))
