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
R2RML subset at parquet-native speed.
"""

from __future__ import annotations

import math
from decimal import Decimal, InvalidOperation
from typing import Optional

from pyspark.sql import Column, DataFrame, SparkSession, functions as F
from pyspark.sql import types as T

from . import namespaces as NS
from .functions.encoding import _ENCODE_RESERVED, _ENCODE_URL, encode_url
from .functions.templates import get_template_groups
from .model import (COLUMN, CONSTANT, TEMPLATE, MappingDocument, TermMap,
                    TriplesMap)
from .translate import EngineConfig

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


def iri_term_sql(inner: str) -> str:
    return f"concat('<', {inner}, '>')"


def literal_term_sql(inner: str, datatype: Optional[str],
                     lang: Optional[str], escape: bool = True) -> str:
    """Quoted N-Triples literal over the lexical ``inner``; ``escape``
    False when the lexical provably needs no escaping (numbers,
    booleans)."""
    body = (f"concat('\"', {nt_escape_sql(inner) if escape else inner}, "
            f"'\"')")
    if lang:
        return f"concat({body}, {sql_lit('@' + lang)})"
    if datatype:
        return f"concat({body}, {sql_lit('^^<' + datatype + '>')})"
    return body


_NATURAL_XSD = {
    T.IntegerType: NS.XSD_INTEGER, T.LongType: NS.XSD_INTEGER,
    T.ShortType: NS.XSD_INTEGER, T.ByteType: NS.XSD_INTEGER,
    T.DoubleType: NS.XSD + "double", T.FloatType: NS.XSD + "double",
    T.DecimalType: NS.XSD_DECIMAL, T.BooleanType: NS.XSD_BOOLEAN,
    T.TimestampType: NS.XSD_DATETIME, T.TimestampNTZType: NS.XSD_DATETIME,
    T.DateType: NS.XSD + "date",
}


def natural_datatype(dtype: T.DataType) -> Optional[str]:
    """R2RML natural mapping, mirroring the reference's DatatypeMapper
    (MorphRDBDataTranslator.scala:59-74)."""
    return _NATURAL_XSD.get(type(dtype))


def _col_lexical_sql(df: DataFrame, name: str) -> str:
    return lexical_sql(sql_ident(name), df.schema[name].dataType)


class NativeCompiler:
    """Compile tabular triples maps into a plan of native DataFrame ops."""

    def __init__(self, spark: SparkSession, mapping: MappingDocument,
                 tables: dict[str, DataFrame],
                 cfg: Optional[EngineConfig] = None,
                 fuse_projections: bool = True,
                 tm_row_filters: Optional[dict] = None):
        """fuse_projections: True → ONE scan per TM (explode over an array of
        (pred, obj) structs) — best for materialization throughput.
        False → one union branch per predicate-object map with a CONSTANT
        pred per branch, which lets Catalyst constant-fold away branches
        that a downstream pred filter can't match — best when querying the
        un-materialized pipeline (SPARQL over the plan).

        tm_row_filters: {tm_name: [ {col: constraint, ...}, ... ]} —
        OR-of-conjunctions row constraints derived by rewrite.py's
        pushdown, applied to the TM's OWN scan only (a ROM parent scan
        stays complete).  A constraint is a raw-equality lexical string
        (template inversion), ('lexeq', lex) rendered-literal equality,
        ('cmp', ((op, num), ...)) numeric predicates, or
        ('lexpat', kind, pat) STRSTARTS/STRENDS/CONTAINS mirrors — see
        _constraint_sql."""
        check_sql_text_conf(spark)
        self.spark = spark
        self.mapping = mapping
        self.tables = tables
        self.cfg = cfg or EngineConfig()
        self.fuse_projections = fuse_projections
        self.tm_row_filters = tm_row_filters or {}

    # -- term expressions ----------------------------------------------
    def _source_df(self, tm: TriplesMap) -> DataFrame:
        ls = tm.logical_source
        if ls.kind == "table":
            if ls.value in self.tables:
                return self.tables[ls.value]
            return self.spark.table(ls.value)
        # rr:sqlQuery over registered temp views
        return self.spark.sql(ls.value)

    def term_null_cond(self, m: TermMap) -> Optional[Column]:
        """Column form of term_null_cond_sql (None = never NULL)."""
        sql = self.term_null_cond_sql(m)
        return None if sql is None else F.expr(sql)

    @staticmethod
    def term_null_cond_sql(m: TermMap) -> Optional[str]:
        """Cheap per-row condition equivalent to ``term_expr(m).isNull()``
        — evaluated on the RAW source columns, so the null-guard filter
        does not have to build (and throw away) the rendered term string.
        None = the term is provably never NULL.

        Exactness: a CONSTANT term is never null; a COLUMN term is null
        iff the column is null (lexical_sql maps NULL to NULL for every
        type); a TEMPLATE term is null iff EVERY group is null (NULL
        groups render '', only the all-null row is dropped) — mirroring
        term_expr's all_null condition exactly."""
        if m.kind == CONSTANT:
            return None
        if m.kind == COLUMN:
            return f"({sql_ident(m.column)} IS NULL)"
        if m.kind == TEMPLATE:
            conds = [f"({sql_ident(g)} IS NULL)"
                     for g in get_template_groups(m.template)]
            if not conds:
                return None          # group-less template: constant text
            return "(" + " AND ".join(conds) + ")"
        raise ValueError(f"term map kind {m.kind} not native-compilable")

    def term_expr(self, df: DataFrame, m: TermMap) -> Column:
        """Term map → Column producing the term (NULL → no triple).

        Internally composed as ONE SQL string parsed by a single
        F.expr call — the Column-DSL build of the same tree costs one
        py4j round trip per operator (~90 for one percent-encoding
        chain; ~0.7 s of driver time per kg_tpch build, profiled).
        Unresolved column references resolve by name exactly as the
        F.col-based build did (the ROM join relies on that)."""
        return F.expr(self.term_expr_sql(df, m))

    def term_expr_sql(self, df: DataFrame, m: TermMap) -> str:
        """term_expr as SQL text (the single source of truth)."""
        tt = m.infer_term_type()
        if m.kind == CONSTANT:
            c = m.constant
            if c[0] == "iri":
                return iri_term_sql(sql_lit(c[1]))
            if c[0] == "bnode":
                return sql_lit(f"_:{c[1]}")
            return literal_term_sql(sql_lit(c[1]), m.datatype or c[2],
                                    m.language or c[3])
        if m.kind == COLUMN:
            raw = _col_lexical_sql(df, m.column)
            if tt == NS.RR_IRI:
                iri = raw
                if isinstance(df.schema[m.column].dataType, T.StringType):
                    # createIRI trims unconditionally (translate.py:331)
                    iri = strip_ws_sql(iri)
                    if self.cfg.encode_unsafe_chars_in_uri:
                        # whole-IRI encodeURI: URL-UNSAFE chars only —
                        # ':' '/' etc. stay (the reserved-chars encoder
                        # is for TEMPLATE GROUP content, not column
                        # IRIs; translate.py:330-333)
                        iri = encode_url_sql(iri)
                return iri_term_sql(iri)
            dtype = m.datatype or (natural_datatype(df.schema[m.column].dataType)
                                   if self.cfg.infer_datatypes and not m.language
                                   else None)
            val = raw
            if self.cfg.literal_trim:
                val = strip_ws_sql(val)
            if isinstance(df.schema[m.column].dataType, T.StringType):
                val = encode_literal_sql(val, self.cfg.encode_literal_quotes)
            return literal_term_sql(val, dtype, m.language)
        if m.kind == TEMPLATE:
            return self._template_expr_sql(df, m, tt)
        raise ValueError(f"term map kind {m.kind} not native-compilable")

    def _template_expr_sql(self, df: DataFrame, m: TermMap, tt: str) -> str:
        groups = get_template_groups(m.template)
        # split the template on the groups to get fixed segments
        segments = []
        rest = m.template
        for g in groups:
            fixed, _, rest = rest.partition("{" + g + "}")
            segments.append(fixed)
        # the Python tier applies encodeURI over the WHOLE expanded IRI
        # (_make_term, translate.py:332-333); group content is already
        # reserved-encoded (a superset of the URL-unsafe set), so the
        # whole-string pass only ever touches the FIXED segments —
        # encode them at compile time
        def fix(seg: str) -> str:
            if tt == NS.RR_IRI and self.cfg.encode_unsafe_chars_in_uri:
                return encode_url(seg)
            return seg

        parts: list[str] = []
        col_exprs: list[str] = []
        for seg, g in zip(segments, groups):
            if seg:
                parts.append(sql_lit(fix(seg)))
            raw = _col_lexical_sql(df, g)
            if tt == NS.RR_IRI and self.cfg.encode_unsafe_chars_in_db_values \
                    and isinstance(df.schema[g].dataType, T.StringType):
                raw = encode_reserved_sql(raw)
            col_exprs.append(raw)
            # NULL column value contributes '' (MorphRDBDataTranslator.scala:357-372)
            parts.append(f"coalesce({raw}, '')")
        if rest:
            parts.append(sql_lit(fix(rest)))
        expanded = f"concat({', '.join(parts)})"
        # all-groups-NULL → no term
        if col_exprs:
            all_null = " AND ".join(f"({ce} IS NULL)" for ce in col_exprs)
            expanded = f"(CASE WHEN {all_null} THEN NULL ELSE {expanded} END)"
        if tt == NS.RR_IRI:
            return iri_term_sql(expanded)
        if tt == NS.RR_BLANKNODE:
            # format_bnode applies encodeURI unconditionally over the
            # whole id (translate.py:336) — groups included, since bnode
            # groups get no reserved-encoding pass
            return f"concat('_:', {encode_url_sql(expanded)})"
        # createLiteral trims and encodes the whole expanded value
        # (translate.py _make_term), fixed segments included
        if self.cfg.literal_trim:
            expanded = strip_ws_sql(expanded)
        return literal_term_sql(
            encode_literal_sql(expanded, self.cfg.encode_literal_quotes),
            m.datatype, m.language)

    # -- triples map compilation ----------------------------------------
    def tm_triples(self, tm: TriplesMap) -> DataFrame:
        """ONE scan per triples map: every (predicate, object) projection
        becomes an element of an array of structs exploded over the scan —
        the compile-time analogue of the reference's self-union
        elimination (AbstractQueryAtomicMongo.scala:331-349): N predicate-
        object maps cost one pass over the source, not N."""
        df = self._source_df(tm)
        flt = self.tm_row_filters.get(tm.name)
        if flt:
            df = df.where(self._constraint_sql(df, flt))
        # every expression below is composed as SQL TEXT and parsed in
        # one call per projection/filter (see the module's SQL-text
        # builders: the Column-DSL build pays a py4j round trip per
        # operator)
        subj_sql = self.term_expr_sql(df, tm.subject_map)

        # named graphs (R2RML §9/xR2RML quads): each class triple lands
        # in the subject map's graphs, each POM triple in subject ∪ POM
        # graphs; empty set = the default graph (NULL) — same expansion
        # as the document tier (translate.py:419-452, quad combination).
        # A NON-CONSTANT graph map can render NULL per row: the Python
        # tier drops that graph from the row's list and falls back to
        # the default graph only when EVERY render is null — mirrored
        # here with per-variant row conditions (constant graph maps fold
        # to unconditional variants)
        sub_gs = [self.term_expr_sql(df, gm) for gm in tm.graph_maps]
        sub_kinds = [gm.kind for gm in tm.graph_maps]

        def graph_variants(gsqls: list, kinds: list
                           ) -> list[tuple[str, Optional[str]]]:
            """[(graph sql, row condition sql | None)] per quad-
            combination semantics over this POM's graph-map renders."""
            if not gsqls:
                return [(NULL_G, None)]
            if all(k == CONSTANT for k in kinds):
                return [(g, None) for g in gsqls]
            out = [(g, f"({g} IS NOT NULL)") for g in gsqls]
            allnull = " AND ".join(f"({g} IS NULL)" for g in gsqls)
            out.append((NULL_G, f"({allnull})"))
            return out

        rdf_type = iri_term_sql(sql_lit(NS.RDF_TYPE))
        po_trips: list[tuple] = []
        cond_parts: list[DataFrame] = []
        sub_variants = graph_variants(sub_gs, sub_kinds)

        # CHEAP null guards (r7): the produced triple set is unchanged —
        # a row is dropped iff its subject/object term renders NULL — but
        # the guard tests the RAW source columns instead of
        # isNotNull(<rendered term string>), so the filter no longer
        # builds every term string a second time just to check nullness
        subj_nn = self.term_null_cond_sql(tm.subject_map)

        def guards(frame: DataFrame, obj_nn: Optional[str]) -> DataFrame:
            conds = []
            if subj_nn is not None:
                conds.append(f"(NOT {subj_nn})")
            if obj_nn is not None:
                conds.append(f"(NOT {obj_nn})")
            if not conds:
                return frame
            return frame.where(" AND ".join(conds))

        def sel(frame: DataFrame, pred: str, obj: str, gc: str) -> DataFrame:
            return frame.selectExpr(
                f"{subj_sql} AS subj", f"{pred} AS pred",
                f"{obj} AS obj", f"{gc} AS graph")

        def emit(pred: str, obj: str, gc: str, cond: Optional[str],
                 obj_nn: Optional[str]) -> None:
            if cond is None:
                po_trips.append((pred, obj, gc, obj_nn))
            else:
                cond_parts.append(
                    sel(guards(df.where(cond), obj_nn),
                        pred, obj, gc))

        for cls in tm.class_uris:
            for gc, cond in sub_variants:
                emit(rdf_type, iri_term_sql(sql_lit(cls)), gc, cond,
                     None)

        rom_parts: list[DataFrame] = []
        for pom in tm.predicate_object_maps:
            gvars = graph_variants(
                sub_gs + [self.term_expr_sql(df, gm)
                          for gm in pom.graph_maps],
                sub_kinds + [gm.kind for gm in pom.graph_maps])
            pred_sqls = [self.term_expr_sql(df, pm)
                         for pm in pom.predicate_maps]
            for pred in pred_sqls:
                for om in pom.object_maps:
                    for gc, cond in gvars:
                        emit(pred, self.term_expr_sql(df, om), gc, cond,
                             self.term_null_cond_sql(om))
                for rom in pom.ref_object_maps:
                    for gc, cond in gvars:
                        rom_parts.append(self._rom_triples(
                            df.where(cond) if cond is not None else df,
                            subj_sql, pred, rom, gc, subj_nn))

        parts: list[DataFrame] = []
        if po_trips and (self.fuse_projections and len(po_trips) > 1):
            # fused: explode a flat INDEX and pick the (pred, obj, graph)
            # triple with a CASE — one output string per produced row,
            # instead of materializing an array of N pre-built structs
            # per source row (same strings, minus the array/struct
            # wrappers — ~10% off the translate stage at 33M triples)
            base = df.selectExpr(
                "*", f"explode(sequence(0, {len(po_trips) - 1})) AS _i")

            def case_over(vals: list[str]) -> str:
                whens = " ".join(f"WHEN _i = {i} THEN {v}"
                                 for i, v in enumerate(vals))
                return f"(CASE {whens} END)"

            pred_c = case_over([p for p, _o, _gc, _nn in po_trips])
            obj_c = case_over([o for _p, o, _gc, _nn in po_trips])
            # graph-less mapping (the common case): keep the constant
            # NULL instead of a per-row CASE over the index
            all_default = all(gc == NULL_G for _p, _o, gc, _nn in po_trips)
            graph_c = NULL_G if all_default else case_over(
                [gc for _p, _o, gc, _nn in po_trips])
            objnull_c: Optional[str] = None
            if any(nn is not None for _p, _o, _gc, nn in po_trips):
                objnull_c = case_over(
                    [nn if nn is not None else "false"
                     for _p, _o, _gc, nn in po_trips])
            base = guards(base, objnull_c)
            parts.append(base.selectExpr(
                f"{subj_sql} AS subj", f"{pred_c} AS pred",
                f"{obj_c} AS obj", f"{graph_c} AS graph"))
        elif po_trips:
            # unfused: one branch per (pred, obj, graph) with constant
            # preds — prunable by downstream pattern filters
            for p, o, gc, nn in po_trips:
                parts.append(sel(guards(df, nn), p, o, gc))
        parts.extend(cond_parts)
        parts.extend(rom_parts)
        if not parts:
            # a subject-only TM (no class, no predicate-object map) emits
            # no triples — R2RML generates rows only per POM/class
            from .engine import TRIPLE_SCHEMA
            return self.spark.createDataFrame([], TRIPLE_SCHEMA)
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        return out

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

    def _rom_triples(self, child_df: DataFrame, subj: str, pred: str,
                     rom, graph: str, subj_nn: Optional[str]) -> DataFrame:
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
        (_parent_subj_from_child_key).  ``subj``, ``pred``, ``graph`` and
        ``subj_nn`` (the child subject's null condition) are SQL text."""
        if not rom.join_conditions:
            # zero join conditions: the reference's intersection of zero
            # term sets is empty — never a cross product
            from .engine import TRIPLE_SCHEMA
            return self.spark.createDataFrame([], TRIPLE_SCHEMA)
        parent_tm = self.mapping.triples_maps[rom.parent_tm]
        pdf = self._source_df(parent_tm)
        pcols = [jc.parent_ref for jc in rom.join_conditions]
        ccols = [jc.child_ref for jc in rom.join_conditions]
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
            key_obj = self.term_expr_sql(kept, parent_tm.subject_map)
            return kept.selectExpr(f"{subj} AS subj", f"{pred} AS pred",
                                   f"{key_obj} AS obj", f"{graph} AS graph")

        parent_nn = self.term_null_cond_sql(parent_tm.subject_map)
        if parent_nn is not None:
            # null parent subjects can never produce a triple (the old
            # plan dropped them via isNotNull(obj) AFTER the join)
            pdf = pdf.where(f"(NOT {parent_nn})")
        parent_subj = self.term_expr(pdf, parent_tm.subject_map)
        parent_sel = pdf.select(
            parent_subj.alias("_psubj"),
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
            # the COLUMN-literal lexical pipeline of term_expr, mirrored
            val = _col_lexical_sql(df, col)
            if self.cfg.literal_trim:
                val = strip_ws_sql(val)
            if isinstance(df.schema[col].dataType, T.StringType):
                val = encode_literal_sql(val, self.cfg.encode_literal_quotes)
            return nt_escape_sql(val)

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

    # -- compile-time uniqueness proof (dedup elimination) ---------------
    def _subject_unique(self, tm: TriplesMap, df: DataFrame) -> bool:
        return subject_renders_unique(tm, df)

    def _tm_po_signatures(self, tm: TriplesMap):
        """[(pred_iri, object_signature)] for the TM's per-row projections
        (ROMs excluded), or None when a predicate is non-constant.  The
        object signature is ('const', rendered) for constants and
        ('expr', i) — unique per slot — otherwise."""
        sigs = []
        for cls in tm.class_uris:
            sigs.append((NS.RDF_TYPE, ("const", "iri", cls)))
        slot = 0
        for pom in tm.predicate_object_maps:
            preds = []
            for pm in pom.predicate_maps:
                if pm.kind != CONSTANT or pm.constant is None \
                        or pm.constant[0] != "iri":
                    return None
                preds.append(pm.constant[1])
            for p in preds:
                for om in pom.object_maps:
                    if om.kind == CONSTANT and om.constant is not None:
                        sigs.append((p, ("const",) + tuple(om.constant)))
                    else:
                        sigs.append((p, ("expr", slot)))
                    slot += 1
        return sigs

    def _tm_branches_distinct(self, tm: TriplesMap, df: DataFrame) -> bool:
        """All of a TM's branches are duplicate-free and pairwise disjoint:
        distinct subjects per row (unique key), and per-row (pred, obj)
        slots that cannot collide (distinct constant preds, or the same
        pred only with pairwise-distinct constant objects)."""
        if not self._subject_unique(tm, df):
            return False
        sigs = self._tm_po_signatures(tm)
        if sigs is None:
            return False
        by_pred: dict = {}
        for p, sig in sigs:
            by_pred.setdefault(p, []).append(sig)
        rom_preds = []
        for pom in tm.predicate_object_maps:
            for pm in pom.predicate_maps:
                for _rom in pom.ref_object_maps:
                    rom_preds.append(pm.constant[1])
                    by_pred.setdefault(pm.constant[1], []).append(
                        ("rom", len(rom_preds)))
        for p, entries in by_pred.items():
            if len(entries) == 1:
                continue
            # same predicate twice: only provably disjoint when every
            # entry is a constant object and all constants differ
            if any(e[0] != "const" for e in entries):
                return False
            if len({e for e in entries}) != len(entries):
                return False
        # every ROM must have multiplicity exactly 1 per child row:
        # single- or multi-condition join against a declared-unique
        # parent key (the probe collapse implies this already)
        for pom in tm.predicate_object_maps:
            for rom in pom.ref_object_maps:
                parent = self.mapping.triples_maps[rom.parent_tm]
                puniq = set(parent.logical_source.unique_refs)
                if not any(jc.parent_ref in puniq
                           for jc in rom.join_conditions):
                    return False
        return True

    def provably_distinct(self, tms) -> bool:
        """True when the triples maps ``tms`` together provably emit no
        duplicate triple, so the global dedup exchange can be skipped —
        the compile-time counterpart of the reference's Jena-set semantics
        (it needs a Model because it cannot prove this; we can, from
        xrr:uniqueRef + constant predicates + single-valued columns).
        Per-TM: subject unique per row and per-row slots disjoint
        (_tm_branches_distinct).  Across TMs: pairwise disjoint subject
        spaces (distinct term types, or neither fixed template prefix a
        prefix of the other) or disjoint constant predicate sets."""
        from .rewrite import tm_pred_iris
        infos = []
        for tm in tms:
            if tm.graph_maps or any(pom.graph_maps
                                    for pom in tm.predicate_object_maps):
                # named graphs multiply quads per (s,p,o); the branch
                # proofs below are triple-level -- keep the dedup
                return False
            df = self._source_df(tm)
            if not self._tm_branches_distinct(tm, df):
                return False
            infos.append((subject_space(tm), tm_pred_iris(tm)))
        for i in range(len(infos)):
            for j in range(i + 1, len(infos)):
                (sp_a, pr_a), (sp_b, pr_b) = infos[i], infos[j]
                if subject_spaces_disjoint(sp_a, sp_b):
                    continue
                if pr_a is not None and pr_b is not None \
                        and not (pr_a & pr_b):
                    continue
                return False
        return True


# ---------------------------------------------------------------------------
# Module-level uniqueness / subject-space proofs (shared with rewrite.py's
# cross-pattern constraint propagation)
# ---------------------------------------------------------------------------

# Rendered-value alphabets per source dtype, for multi-group template
# injectivity: a value of this type can only contain these characters, so
# a separator whose first char is OUTSIDE the union alphabet makes the
# template parse unique (leftmost-delimiter argument).
RENDER_ALPHABET = {
    T.ByteType: "0123456789-", T.ShortType: "0123456789-",
    T.IntegerType: "0123456789-", T.LongType: "0123456789-",
    T.DecimalType: "0123456789-.", T.DateType: "0123456789-",
    T.BooleanType: "truefals",
}
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
        chars = RENDER_ALPHABET.get(type(dt))
        if chars is None:
            return False            # string/unbounded value alphabet
        alphabet.update(chars)
    rest = sm.template
    seps = []
    for g in groups:
        _fixed, _, rest = rest.partition("{" + g + "}")
        seps.append(_fixed)
    for sep in seps[1:]:            # separators BETWEEN groups
        if not sep or sep[0] in alphabet:
            return False
    return True


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
