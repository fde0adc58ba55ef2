"""JSON-native compiler: static-path document mappings without Python.

The document compiler (engine.py) evaluates full JSONPath semantics in
Arrow-batched Python — necessary for wildcards-in-the-middle, filters,
nested term maps.  But a large class of real mappings (including the
headline corpus pipeline) only uses STATIC paths:

    rml:iterator "$.lines.*"            → explode(from_json(...).lines)
    xrr:pushDown [$.ok as ok]           → parent column carried along
    xrr:reference "$.qty"               → item.qty
    rr:template ".../{$.ok}-{$.ln}"     → concat(...)

Those compile to pure Catalyst: ONE from_json per source (schema inferred
by sampling), explode for the iterator, native concat/encode chains for
terms (native.CatalystCompiler's renderer, shared with the tabular tier)
— whole-stage codegen, zero Python workers.  The JSON datatype →
XSD mapping matches the document engine (long→xsd:integer,
double→xsd:decimal, boolean→xsd:boolean —
MorphMongoDataTranslator.scala:403-419), so both compilers emit identical
triples; tests assert it.

``compilable(tm)`` decides eligibility; ``api.route_tier`` routes a TM
through here before falling back to the Python document stage.
"""

from __future__ import annotations

import json
import re
from typing import Any, Collection, Optional

from pyspark.sql import Column, DataFrame, SparkSession, functions as F
from pyspark.sql import types as T

from . import namespaces as NS
from .functions.templates import get_template_groups
from .model import (CONSTANT, REFERENCE, TEMPLATE, MappingDocument, TermMap,
                    TriplesMap)
from .native import (CatalystCompiler, lexical_sql, sql_lit,
                     subject_renders_unique_schemaless, union_all)
from .sources import SourceCatalog, python_filter
from .translate import EngineConfig

_SIMPLE_PATH = re.compile(r"^\$(\.[A-Za-z_][A-Za-z0-9_]*)+$")
_SIMPLE_ITER = re.compile(r"^\$(\.[A-Za-z_][A-Za-z0-9_]*)+\.\*$")


def _static_path(ref: Optional[str]) -> Optional[list[str]]:
    if ref is None or not _SIMPLE_PATH.match(ref):
        return None
    return ref[2:].split(".")


def compilable(tm: TriplesMap) -> bool:
    """True when every path in the TM is static (see module docstring)
    AND the source's find() filter compiles to a SQL predicate — a
    filter that only the Python fallback can evaluate ($or with
    numeric branches, $regex, $elemMatch, numeric equality) must route
    the TM to the document compiler, which applies it; this tier would
    silently scan UNFILTERED."""
    ls = tm.logical_source
    if ls.kind not in ("query",):
        return False
    try:
        if python_filter(ls) is not None:
            return False
    except Exception:
        return False
    if ls.iterator is not None and not _SIMPLE_ITER.match(ls.iterator):
        return False
    for pd in ls.pushdowns:
        if _static_path(pd.reference) is None and pd.reference != "$._id":
            return False

    def tm_ok(m: Optional[TermMap]) -> bool:
        if m is None:
            return True
        if m.nested is not None or m.language_ref is not None or m.pushdowns:
            return False
        if m.is_collection_type():
            return False
        if m.kind == CONSTANT:
            return True
        if m.kind == REFERENCE:
            return _static_path(m.reference) is not None
        if m.kind == TEMPLATE:
            return all(_static_path(g) is not None
                       for g in get_template_groups(m.template))
        return False

    if not tm_ok(tm.subject_map):
        return False
    for gm in tm.graph_maps:
        if not tm_ok(gm):
            return False
    for pom in tm.predicate_object_maps:
        for gm in pom.graph_maps:
            if not tm_ok(gm):
                return False
        for m in pom.predicate_maps + pom.object_maps:
            if not tm_ok(m):
                return False
        for rom in pom.ref_object_maps:
            for jc in rom.join_conditions:
                if _static_path(jc.child_ref) is None:
                    return False
            if rom.is_collection():
                return False
    return True


# ---------------------------------------------------------------------------
# Schema inference by sampling
# ---------------------------------------------------------------------------

class SchemaConflict(Exception):
    pass


def _merge_type(a, b):
    if a is None:
        return b
    if b is None or a == b:
        return a
    # long/double mixed in one field: reading both as double would emit
    # "3.0"^^xsd:decimal where the document engine emits "3"^^xsd:integer
    # — flagged as unsafe so api.route_tier falls back to the document
    # compiler for this TM instead of silently drifting
    raise SchemaConflict(f"conflicting JSON types {a} vs {b}")


def _walk_paths(doc: Any, needed: dict) -> None:
    """needed: nested dict path-tree; leaves hold {'__type__': t}.
    A type conflict across sampled docs marks the leaf '__conflict__'."""
    for key, sub in needed.items():
        if key in ("__type__", "__array__", "__conflict__"):
            continue
        if not isinstance(doc, dict) or key not in doc:
            continue
        val = doc[key]
        if sub.get("__array__"):
            if isinstance(val, list):
                for item in val:
                    _walk_paths(item, sub)
            continue
        if "__type__" in sub or len(sub) <= 1:
            t = ("boolean" if isinstance(val, bool) else
                 "long" if isinstance(val, int) else
                 "double" if isinstance(val, float) else
                 "string" if isinstance(val, str) else None)
            if t is not None:
                try:
                    sub["__type__"] = _merge_type(sub.get("__type__"), t)
                except SchemaConflict:
                    sub["__conflict__"] = True
                    sub["__type__"] = "string"
        if isinstance(val, dict):
            _walk_paths(val, sub)


def _tree_to_struct(tree: dict) -> T.StructType:
    fields = []
    for key, sub in tree.items():
        if key in ("__type__", "__array__", "__conflict__"):
            continue
        children = {k: v for k, v in sub.items()
                    if k not in ("__type__", "__array__", "__conflict__")}
        if children:
            inner: T.DataType = _tree_to_struct(sub)
        else:
            inner = {"boolean": T.BooleanType(), "long": T.LongType(),
                     "double": T.DoubleType(),
                     "string": T.StringType()}[sub.get("__type__", "string")]
        if sub.get("__array__"):
            inner = T.ArrayType(inner)
        fields.append(T.StructField(key, inner, True))
    return T.StructType(fields)


def spread(df):
    """Scale-adaptive read-side parallelism fix (guide §2.5, input skew:
    "one huge unsplittable file ... repartition immediately after the
    read"): the local test tables are single-row-group parquet files, so
    a scan yields 1-2 partitions and every compute-heavy downstream op
    (from_json, explode) serializes on 1-2 cores regardless of the
    executor count.  Round-robin repartition to the cluster's default
    parallelism; a no-op whenever the scan already has enough splits
    (the production/100-TB case).  Results are unchanged: the answering
    plan has no partition-layout-dependent semantics."""
    par = df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() >= par:
        return df
    return df.repartition(par)


class JsonNativeCompiler(CatalystCompiler):
    """The json-native tier: leaves are static paths into the parsed
    document (and the iterated item), typed by sampling."""

    # JSON type → XSD, MorphMongoDataTranslator.scala:403-419
    NATURAL_XSD = {T.LongType: NS.XSD_INTEGER, T.DoubleType: NS.XSD_DECIMAL,
                   T.BooleanType: NS.XSD_BOOLEAN}
    TERM_KINDS = (CONSTANT, REFERENCE, TEMPLATE)

    def __init__(self, spark: SparkSession, mapping: MappingDocument,
                 catalog: SourceCatalog, cfg: Optional[EngineConfig] = None,
                 sample_n: int = 200, fused: Optional[Collection[str]] = None):
        """fused mirrors NativeCompiler: the TMs compiled to ONE
        projection (explode over an array of (pred, obj, graph) structs),
        None for every TM (materialization).  Every other TM emits one
        union branch per entry with a CONSTANT pred, so the SPARQL
        evaluator's per-pattern ``pred = <iri>`` prunes every
        non-matching collection scan (and its from_json parse) out of
        the plan.  An answering plan (a ``fused`` set) spreads its scans
        (``spread``).

        Schema sampling costs a driver-side collect() job per (source,
        path-set): memoized in the catalog's schema_samples, keyed by the
        needed-path set, so repeated queries over the same registered
        data pay it once and mappings sharing a catalog never collide."""
        super().__init__(spark, mapping, cfg, fused)
        self.catalog = catalog
        self.sample_n = sample_n

    def _source(self, tm: TriplesMap) -> DataFrame:
        """The TM's resolved, find()-filtered source rows.  A filter the
        Catalyst compile cannot express would leave them unfiltered here:
        only the Python document tier applies it, so refuse loudly."""
        src, py_filter = self.catalog.resolve(tm.logical_source)
        if py_filter is not None:
            raise ValueError(
                f"triples map {tm.name}: find() filter {py_filter!r} does "
                "not compile to SQL; only the Python document tier "
                "applies it")
        return src

    # -- schema ----------------------------------------------------------
    def _needed_paths(self, tm: TriplesMap) -> list[list[str]]:
        paths: list[list[str]] = []
        it = tm.logical_source.iterator
        it_prefix = it[2:-2].split(".") if it else []
        pushdown_fields = {pd.target_field
                           for pd in tm.logical_source.pushdowns}

        def add(ref: str):
            p = _static_path("$._id.$oid" if ref == "$._id" else ref)
            if p is None:
                return
            if it_prefix and p[0] in pushdown_fields:
                # pushed-down fields SHADOW same-named item fields
                # (source_leaf resolves them against the parent doc), so
                # no lines.*.<field> schema entry exists or is needed
                return
            paths.append(it_prefix + ["__*__"] + p if it_prefix else p)

        for pd in tm.logical_source.pushdowns:
            p = _static_path(pd.reference)
            if p is not None:
                paths.append(p)  # pushdown reads the PARENT doc

        def walk_tm(m: Optional[TermMap]):
            if m is None:
                return
            if m.kind == REFERENCE:
                add(m.reference)
            elif m.kind == TEMPLATE:
                for g in get_template_groups(m.template):
                    add(g)

        walk_tm(tm.subject_map)
        for gm in tm.graph_maps:
            walk_tm(gm)
        for pom in tm.predicate_object_maps:
            for m in pom.predicate_maps + pom.object_maps:
                walk_tm(m)
            for gm in pom.graph_maps:
                walk_tm(gm)
            for rom in pom.ref_object_maps:
                for jc in rom.join_conditions:
                    add(jc.child_ref)
        return paths

    def _cache_key(self, tm: TriplesMap) -> str:
        paths = sorted(".".join(p) for p in self._needed_paths(tm))
        return (tm.logical_source.source_id() + "|" + repr(paths)
                + f"|{self.sample_n}")

    def _schema_for(self, tm: TriplesMap) -> T.StructType:
        key = self._cache_key(tm)
        cache = self.catalog.schema_samples
        if key in cache:
            return cache[key][0]
        tree: dict = {}
        for path in self._needed_paths(tm):
            node = tree
            for part in path:
                if part == "__*__":
                    node["__array__"] = True
                    continue
                node = node.setdefault(part, {})
        sample = [r.content for r in self._source(tm).select("content")
                  .limit(self.sample_n).collect()]
        for raw in sample:
            try:
                doc = json.loads(raw)
            except (ValueError, TypeError):
                continue
            _walk_paths(doc, tree)
        # record where the sample could NOT pin a safe type: a leaf never
        # observed (its true type is unknown — a later long would silently
        # become a plain-literal string) or observed with conflicting
        # types.  api.route_tier uses this to fall back to the document
        # compiler rather than risk dropped/drifting triples at row
        # sample_n+1.
        unsafe: list[str] = []

        def scan(node: dict, prefix: str):
            children = [k for k in node
                        if k not in ("__type__", "__array__", "__conflict__")]
            if not children and prefix:
                if node.get("__conflict__"):
                    unsafe.append(f"{prefix} (conflicting sampled types)")
                elif "__type__" not in node:
                    unsafe.append(f"{prefix} (never seen in sample)")
            for k in children:
                scan(node[k], f"{prefix}.{k}" if prefix else k)

        scan(tree, "")
        schema = _tree_to_struct(tree)
        cache[key] = (schema, unsafe)
        return schema

    def unsafe_paths(self, tm: TriplesMap) -> list[str]:
        """Mapping-required leaves whose type the sample could not pin
        (unseen or conflicting) — non-empty means this TM should run on
        the document compiler instead."""
        key = self._cache_key(tm)
        if key not in self.catalog.schema_samples:
            self._schema_for(tm)
        return self.catalog.schema_samples[key][1]

    # -- term expressions --------------------------------------------------
    def _item_schema(self, tm: TriplesMap) -> T.DataType:
        schema = self._schema_for(tm)
        it_parts = tm.logical_source.iterator[2:-2].split(".")
        dt: T.DataType = schema
        for p in it_parts:
            dt = dt[p].dataType  # type: ignore[index]
        assert isinstance(dt, T.ArrayType)
        return dt.elementType

    def source_leaf(self, ctx, ref: str) -> tuple:
        """(sql fragment, type, stringified) of a static reference
        resolved against the parsed doc (root) and the iterated item —
        leaves are the named parse columns.  A pushed-down field is its
        typed source on the parent doc, stringified (xR2RMLPushDown
        semantics)."""
        tm, root_sql, item_sql = ctx
        if ref == "$._id":
            ref = "$._id.$oid"
        parts = _static_path(ref)
        schema = self._schema_for(tm)
        it = tm.logical_source.iterator
        pushdown_fields = {pd.target_field for pd in tm.logical_source.pushdowns}
        src_sql, src_schema = (item_sql, self._item_schema(tm)) \
            if it is not None else (root_sql, schema)
        # pushed-down fields live on the PARENT doc and SHADOW same-named
        # item fields (xR2RMLPushDown inserts with put(), overwriting)
        if it is not None and parts[0] in pushdown_fields:
            if len(parts) > 1:
                # pushed values are scalar strings; deeper paths match nothing
                return "CAST(NULL AS STRING)", T.StringType(), False
            for pd in tm.logical_source.pushdowns:
                if pd.target_field == parts[0]:
                    pparts = _static_path(
                        "$._id.$oid" if pd.reference == "$._id"
                        else pd.reference)
                    return *_descend_sql(root_sql, schema, pparts), True
        return *_descend_sql(src_sql, src_schema, parts), False

    # -- triples map --------------------------------------------------------
    @staticmethod
    def _parse_select(src: DataFrame, schema: T.StructType) -> DataFrame:
        """content → parsed ``_doc`` struct, evaluated ONCE per row.

        The ``when(monotonically_increasing_id() >= 0, ...)`` wrapper is
        an always-true guard whose only purpose is to make the parse
        expression NONDETERMINISTIC, turning this Project into a
        predicate-pushdown barrier: without it Catalyst substitutes the
        from_json alias into every downstream term predicate
        (subject/object null-guards, the evaluator's pattern filters),
        and — because from_json schema pruning then specializes each
        copy to different fields — common-subexpression elimination
        cannot merge them, so one row gets parsed 4-5×.  The wrapper
        keeps exactly one from_json per scan row (guide §4.2 "parse
        once"/§4.4 "stop the optimizer duplicating"); the
        branch-folding constant preds live ABOVE the barrier, so
        per-pattern branch pruning is unaffected.  (A plain extra
        nondeterministic column does not work: ColumnPruning drops it
        and the Project turns deterministic again.)"""
        return src.selectExpr(
            "CASE WHEN monotonically_increasing_id() >= 0 THEN "
            f"from_json(content, {sql_lit(schema.json())}) END AS _doc",
            "_seq")

    def scan(self, tm: TriplesMap):
        """Scan → from_json (→ explode the iterator); the row context is
        (tm, parsed-doc SQL, item SQL or None)."""
        src = self._source(tm)
        if self.fused is not None:
            src = spread(src)
        parsed = self._parse_select(src, self._schema_for(tm))
        if tm.logical_source.iterator is None:
            return parsed, (tm, "`_doc`", None)
        arr: Column = F.col("_doc")
        for p in tm.logical_source.iterator[2:-2].split("."):
            arr = arr[p]
        return (parsed.select("_doc", "_seq", F.explode(arr).alias("_item")),
                (tm, "`_doc`", "`_item`"))

    @staticmethod
    def subject_unique(tm: TriplesMap) -> bool:
        return subject_renders_unique_schemaless(tm)

    @staticmethod
    def _slot_ok(om: TermMap) -> bool:
        """A single-valued object slot: a constant, or a static
        non-wildcard reference / template (a static path yields ONE
        value per document; arrays render as their JSON dump)."""
        if om.nested is not None or om.language_ref is not None \
                or om.is_collection_type():
            return False
        if om.kind == CONSTANT:
            return om.constant is not None
        if om.kind == REFERENCE:
            return _static_path(om.reference) is not None
        if om.kind == TEMPLATE:
            return all(_static_path(g) is not None
                       for g in get_template_groups(om.template))
        return False

    @staticmethod
    def _rom_ok(rom) -> bool:
        return False                 # document joins: no multiplicity proof

    def _fused(self, parsed: DataFrame, subj: str, _subj_null,
               entries: list) -> list:
        """Every entry as an element of one (pred, obj, graph) struct
        array exploded over the parsed rows — an index explode would
        carry ``_doc``/``_item`` through the Generate once per triple.
        A false graph condition nulls its element; the null filter after
        the explode drops it."""
        structs = []
        for pred, obj, graph, cond, _obj_null in entries:
            st = f"struct({pred} AS pred, {obj} AS obj, {graph} AS graph)"
            structs.append(st if cond is None
                           else f"(CASE WHEN {cond} THEN {st} END)")
        fused = parsed.selectExpr(
            f"{subj} AS subj", f"explode(array({', '.join(structs)})) AS _po")
        return [fused.selectExpr("subj", "_po.pred AS pred", "_po.obj AS obj",
                                 "_po.graph AS graph")
                .where("subj IS NOT NULL AND obj IS NOT NULL")]

    def _join_key(self, ctx, ref: str) -> str:
        """Join-key canonicalization matching translate.msp_join_keys
        (json.dumps of the raw scalar: strings quoted+escaped, booleans
        lowercase, numbers bare)."""
        sql, dt = self.leaf(ctx, ref)
        if isinstance(dt, T.StringType):
            return f"concat('\"', {nt_escape_json_sql(sql)}, '\"')"
        return lexical_sql(sql, dt)

    def _rom_triples(self, ctx, parsed: DataFrame, subj: str,
                     subj_null: Optional[str], pred: str, rom, graph: str,
                     cond: Optional[str]) -> DataFrame:
        """ROM triples by a join on canonical join keys; ``subj``,
        ``subj_null``, ``pred``, ``graph`` and the row condition ``cond``
        are SQL text.  The parent must be json-native compilable too."""
        if not rom.join_conditions:
            # intersection of zero per-condition sets = empty (matches the
            # document engine / reference), never a cross product
            return union_all(self.spark, [])
        parent_tm = self.mapping.triples_maps[rom.parent_tm]
        pparsed, pctx = self.scan(parent_tm)
        psubj_null = self.term_null_sql(pctx, parent_tm.subject_map)
        # null subjects on either side never make a triple: drop them
        # before the exchange
        child = parsed if cond is None else parsed.where(cond)
        if subj_null is not None:
            child = child.where(f"(NOT {subj_null})")
        if psubj_null is not None:
            pparsed = pparsed.where(f"(NOT {psubj_null})")
        child_sel = child.selectExpr(
            f"{subj} AS subj", f"{pred} AS pred", f"{graph} AS graph",
            *[f"{self._join_key(ctx, jc.child_ref)} AS _ck{i}"
              for i, jc in enumerate(rom.join_conditions)])
        parent_sel = pparsed.selectExpr(
            f"{self.term_sql(pctx, parent_tm.subject_map)} AS _psubj",
            *[f"{self._join_key(pctx, jc.parent_ref)} AS _pk{i}"
              for i, jc in enumerate(rom.join_conditions)])
        jcond = None
        for i in range(len(rom.join_conditions)):
            c = F.col(f"_ck{i}") == F.col(f"_pk{i}")
            jcond = c if jcond is None else (jcond & c)
        return child_sel.join(parent_sel, jcond).selectExpr(
            "subj", "pred", "_psubj AS obj", "graph")


# ---------------------------------------------------------------------------
# helpers
# ---------------------------------------------------------------------------

def _descend_sql(base_sql: str, schema: T.DataType,
                 parts: list[str]) -> tuple[str, T.DataType]:
    """Struct field walk over a named column: (sql, type), a NULL
    string where the sampled schema has no such field."""
    dt = schema
    sql = base_sql
    for p in parts:
        if not isinstance(dt, T.StructType) or p not in dt.fieldNames():
            return "CAST(NULL AS STRING)", T.StringType()
        sql = f"{sql}.`" + p.replace("`", "``") + "`"
        dt = dt[p].dataType
    return sql, dt


def nt_escape_json_sql(inner: str) -> str:
    """json.dumps escaping of the two JSON-string metachars (text form)."""
    return ("replace(replace(" + inner
            + ", '\\\\', '\\\\\\\\'), '\"', '\\\\\"')")
