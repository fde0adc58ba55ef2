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
terms — whole-stage codegen, zero Python workers.  The JSON datatype →
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
from typing import Any, Optional

from pyspark.sql import Column, DataFrame, SparkSession, functions as F
from pyspark.sql import types as T

from . import namespaces as NS
from .functions.templates import compile_template, get_template_groups
from .model import (COLUMN, CONSTANT, REFERENCE, TEMPLATE, MappingDocument,
                    TermMap, TriplesMap)
from .native import (NULL_G, check_sql_text_conf, encode_literal_sql,
                     encode_reserved_sql, encode_url_sql, iri_term_sql,
                     lexical_sql, literal_term_sql, sql_lit, strip_ws_sql)
from .sources import SourceCatalog, mongo_filter_sql
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
    if ls.is_find():
        from .model import parse_mongo_query
        try:
            _coll, filter_text = parse_mongo_query(ls.value)
        except Exception:
            return False
        if mongo_filter_sql(filter_text, "content") is None:
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
# Compile-time duplicate-freeness (document tier, r6)
# ---------------------------------------------------------------------------

def provably_distinct_json(tms) -> bool:
    """Document-tier twin of NativeCompiler.provably_distinct — tier-
    independent (the proof is about mapping semantics: the same shapes
    emit identically from the json-native and the Arrow document
    compilers).  True when the triples maps ``tms`` together provably
    emit no duplicate triple, so the global dedup exchange / the
    evaluator's per-pattern dropDuplicates are compile-time no-ops.
    Per TM:

      - NO iterator and no logical-source pushDown (one row == one
        document; under an iterator a subject repeats across items);
      - subject unique per document (xrr:uniqueRef through a
        single-group template — subject_renders_unique_schemaless);
      - no referencing object maps, graph maps, nested maps,
        collections, language references;
      - every predicate a constant IRI and every object slot
        single-valued (constant, or a STATIC non-wildcard reference /
        template — a static path yields ONE value per document, arrays
        render as their JSON dump);
      - a predicate emitted twice only with pairwise-distinct constant
        objects (two references under one predicate could hold equal
        values → same triple).

    Across TMs: pairwise-disjoint subject spaces or disjoint constant
    predicate sets (mirrors the tabular proof).  Iterator mappings
    (e.g. the lineitem example) correctly stay unprovable."""
    from .native import (subject_renders_unique_schemaless, subject_space,
                         subject_spaces_disjoint)
    from .rewrite import tm_pred_iris

    def om_sig(om):
        """Object signature, or None = unprovable slot."""
        if om.nested is not None or om.language_ref is not None \
                or om.is_collection_type():
            return None
        if om.kind == CONSTANT and om.constant is not None:
            return ("const",) + tuple(om.constant)
        if om.kind == REFERENCE:
            if _static_path(om.reference) is None:
                return None
            return ("ref", om.reference, om.datatype, om.language)
        if om.kind == TEMPLATE:
            groups = get_template_groups(om.template)
            if any(_static_path(g) is None for g in groups):
                return None
            return ("tpl", om.template, om.datatype, om.language)
        return None

    infos = []
    for tm in tms:
        ls = tm.logical_source
        if ls.iterator or ls.pushdowns:
            return False
        if not subject_renders_unique_schemaless(tm):
            return False
        if tm.graph_maps:
            return False
        by_pred: dict = {}
        for cls in tm.class_uris:
            by_pred.setdefault(NS.RDF_TYPE, []).append(("const", "iri", cls))
        for pom in tm.predicate_object_maps:
            if pom.graph_maps or pom.ref_object_maps:
                return False
            preds = []
            for pm in pom.predicate_maps:
                if pm.kind != CONSTANT or pm.constant is None \
                        or pm.constant[0] != "iri":
                    return False
                preds.append(pm.constant[1])
            for p in preds:
                for om in pom.object_maps:
                    sig = om_sig(om)
                    if sig is None:
                        return False
                    by_pred.setdefault(p, []).append(sig)
        for _p, entries in by_pred.items():
            if len(entries) == 1:
                continue
            if any(e[0] != "const" for e in entries):
                return False
            if len(set(entries)) != len(entries):
                return False
        infos.append((subject_space(tm), tm_pred_iris(tm)))
    for i in range(len(infos)):
        for j in range(i + 1, len(infos)):
            (sp_a, pr_a), (sp_b, pr_b) = infos[i], infos[j]
            if sp_a is not None and sp_b is not None \
                    and subject_spaces_disjoint(sp_a, sp_b):
                continue
            if pr_a is not None and pr_b is not None and not (pr_a & pr_b):
                continue
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


# ---------------------------------------------------------------------------
# Answering-mode persist tracker
# ---------------------------------------------------------------------------
# The unfused (answering) plan persists each resolved, filtered source
# (tm_base / _rom_triples), and the Python tier persists each ROM TM's
# child stage (engine.SparkMaterializer._tm_triples); both register here,
# and ``cleanup()`` releases everything.  A long-lived session answering
# many queries would otherwise accumulate executor storage.

_PERSISTED: list = []
# live-entry cap: long sessions answering many distinct queries would
# otherwise accumulate cached source frames indefinitely (each distinct
# find() filter caches its own filtered copy).  Evicting the OLDEST
# entry is always safe — a later re-execution of its plan just
# recomputes from the source.  cleanup() remains the explicit release.
_MAX_LIVE = 16


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


def track_persist(df):
    """persist(MEMORY_AND_DISK) + register for cleanup().
    Keeps at most _MAX_LIVE tracked entries: beyond that the oldest is
    unpersisted (lazily recomputable — correctness unaffected)."""
    from pyspark import StorageLevel
    df = df.persist(StorageLevel.MEMORY_AND_DISK)
    _PERSISTED.append(df)
    while len(_PERSISTED) > _MAX_LIVE:
        old = _PERSISTED.pop(0)
        try:
            old.unpersist()
        except Exception:
            pass   # session already stopped — nothing to release
    return df


def cleanup() -> int:
    """Unpersist every frame registered by track_persist(); returns how
    many frames were released."""
    n = 0
    for df in _PERSISTED:
        try:
            df.unpersist()
            n += 1
        except Exception:
            pass   # session already stopped — nothing to release
    _PERSISTED.clear()
    return n


class JsonNativeCompiler:
    """Compile eligible triples maps into from_json/explode/concat plans."""

    def __init__(self, spark: SparkSession, mapping: MappingDocument,
                 catalog: SourceCatalog, cfg: Optional[EngineConfig] = None,
                 sample_n: int = 200, fuse_projections: bool = True):
        """fuse_projections mirrors NativeCompiler: True → ONE scan per TM
        (explode over an array of (pred, obj, graph) structs) — best for
        materialization throughput.  False → one union branch per
        predicate-object entry with a CONSTANT pred per branch, which
        lets Catalyst constant-fold away branches a downstream pattern's
        pred filter can't match — the SPARQL evaluator's per-pattern
        ``pred = <iri>`` then prunes every non-matching collection scan
        (and its from_json parse) out of the plan entirely."""
        check_sql_text_conf(spark)
        self.spark = spark
        self.mapping = mapping
        self.catalog = catalog
        self.cfg = cfg or EngineConfig()
        self.sample_n = sample_n
        self.fuse_projections = fuse_projections
        # schema sampling costs a driver-side collect() job per (source,
        # path-set): memoized in the catalog's schema_samples so repeated
        # queries over the same registered data pay it once, not once per
        # compile.  The key carries the needed-path set, so different
        # mappings sharing a catalog never collide.

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
                # (_field_sql resolves them against the parent doc), so
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
        src, _ = self.catalog.resolve(tm.logical_source)
        sample = [r.content for r in src.select("content")
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

    def _field_sql(self, tm: TriplesMap, root_sql: str,
                   item_sql: Optional[str], ref: str) -> tuple[str, T.DataType]:
        """(sql fragment, type) of a static reference resolved against
        the parsed doc (root) and the iterated item — leaves are the
        named parse columns."""
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
                return "CAST(NULL AS STRING)", T.StringType()
            for pd in tm.logical_source.pushdowns:
                if pd.target_field == parts[0]:
                    pparts = _static_path(
                        "$._id.$oid" if pd.reference == "$._id"
                        else pd.reference)
                    sql, dt = _descend_sql(root_sql, schema, pparts)
                    # pushDown stringifies values (xR2RMLPushDown semantics)
                    return lexical_sql(sql, dt), T.StringType()
        return _descend_sql(src_sql, src_schema, parts)

    def _term_expr(self, tm: TriplesMap, root_sql: str,
                   item_sql: Optional[str], m: TermMap) -> Column:
        """Term map → Column, composed as ONE SQL string parsed by a
        single F.expr (the Column-DSL build costs one py4j round trip
        per operator — see native.py's SQL-text builders)."""
        return F.expr(self._term_expr_sql(tm, root_sql, item_sql, m))

    def _term_expr_sql(self, tm: TriplesMap, root_sql: str,
                       item_sql: Optional[str], m: TermMap) -> str:
        # leaves are SQL TEXT ("`_doc`" / "`_item`"): a Column here would
        # silently interpolate its repr into the generated SQL
        assert isinstance(root_sql, str), root_sql
        assert item_sql is None or isinstance(item_sql, str), item_sql
        tt = m.infer_term_type()
        cfg = self.cfg
        if m.kind == CONSTANT:
            c = m.constant
            if c[0] == "iri":
                return sql_lit(f"<{c[1]}>")
            if c[0] == "bnode":
                return sql_lit(f"_:{c[1]}")
            return literal_term_sql(sql_lit(c[1]), m.datatype or c[2],
                                    m.language or c[3])
        if m.kind == REFERENCE:
            sql, dt = self._field_sql(tm, root_sql, item_sql, m.reference)
            lex = lexical_sql(sql, dt)
            is_str = isinstance(dt, T.StringType)
            if tt == NS.RR_IRI:
                # createIRI: trim + encodeUrl; numeric lexicals can't
                # contain unsafe chars — keep the chain off the plan
                if is_str:
                    lex = strip_ws_sql(lex)
                    if cfg.encode_unsafe_chars_in_uri:
                        lex = encode_url_sql(lex)
                return iri_term_sql(lex)
            if is_str and cfg.literal_trim:
                lex = strip_ws_sql(lex)
            if is_str:
                lex = encode_literal_sql(lex, cfg.encode_literal_quotes)
            dtype = m.datatype
            if dtype is None and m.language is None and cfg.infer_datatypes:
                dtype = _mongo_xsd(dt)
            return literal_term_sql(lex, dtype, m.language, escape=is_str)
        if m.kind == TEMPLATE:
            segs = compile_template(m.template)
            groups = get_template_groups(m.template)
            if tt == NS.RR_IRI and cfg.encode_unsafe_chars_in_uri:
                # fixed segments are static: encode them at COMPILE time
                # with the exact reference function; group values get the
                # (superset) reserved-chars encoding below, making the
                # runtime whole-string encodeUrl a provable no-op
                from .functions.encoding import encode_url as _enc_url
                segs = [_enc_url(s) for s in segs]
            parts: list[str] = []
            null_conds: list[str] = []
            parts.append(sql_lit(segs[0]))
            for i, g in enumerate(groups):
                sql, dt = self._field_sql(tm, root_sql, item_sql, g)
                lex = lexical_sql(sql, dt)
                if isinstance(dt, T.StringType) and tt == NS.RR_IRI \
                        and cfg.encode_unsafe_chars_in_db_values:
                    lex = encode_reserved_sql(lex)
                null_conds.append(f"({lex} IS NULL)")
                parts.append(f"coalesce({lex}, '')")
                parts.append(sql_lit(segs[i + 1]))
            expanded = f"concat({', '.join(parts)})"
            if null_conds:
                all_null = " AND ".join(null_conds)
                expanded = (f"(CASE WHEN {all_null} THEN NULL "
                            f"ELSE {expanded} END)")
            if tt == NS.RR_IRI:
                return iri_term_sql(expanded)
            if tt == NS.RR_BLANKNODE:
                # format_bnode encodes the whole id (translate.py:336)
                return f"concat('_:', {encode_url_sql(expanded)})"
            # createLiteral trims and encodes the whole expanded value
            # (translate.py _make_term), fixed segments included
            if cfg.literal_trim:
                expanded = strip_ws_sql(expanded)
            return literal_term_sql(
                encode_literal_sql(expanded, cfg.encode_literal_quotes),
                m.datatype, m.language)
        raise ValueError(f"not json-native compilable: {m.kind}")

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

    def tm_base(self, tm: TriplesMap) -> DataFrame:
        """Scan → from_json → (explode) → fused (pred, obj) array explode.
        Returns (subj, pred, obj, graph) plus join-key columns per ROM."""
        src, _pyf = self.catalog.resolve(tm.logical_source)
        if not self.fuse_projections:
            # answering mode emits one union branch per (pred, obj)
            # entry and the evaluator references the plan once per
            # pattern: without a persist every surviving branch re-runs
            # the source build + find() filter.  Spread the (filtered)
            # rows to cluster parallelism first — local test collections
            # are single-row-group files whose scans yield 1-2 tasks,
            # which would serialize the per-row parse; no-op with
            # plentiful splits (guide §2.5) — then lazy-persist the
            # RESOLVED, FILTERED content rows: computed when the first
            # branch executes, shared by the rest (guide §5: reused +
            # expensive to recompute; released via cleanup()).  The
            # persist sits BELOW the nondeterministic parse barrier:
            # the cached subplan stays deterministic, so Catalyst's
            # cache matching (sameResult) recognizes every reference.
            # Schema sampling (catalog.resolve in _schema_for) sees the
            # raw registered source, so its limit(n).collect() stays an
            # incremental first-partition take, not this shuffle.
            src = track_persist(spread(src))
        schema = self._schema_for(tm)
        parsed = self._parse_select(src, schema)
        root, item = "`_doc`", None
        if tm.logical_source.iterator is not None:
            it_parts = tm.logical_source.iterator[2:-2].split(".")
            arr: Column = F.col("_doc")
            for p in it_parts:
                arr = arr[p]
            parsed = parsed.select("_doc", "_seq",
                                   F.explode(arr).alias("_item"))
            item = "`_item`"


        # expressions composed as SQL TEXT, one parse per projection —
        # see the SQL-text builders in native.py (a Column-DSL build pays
        # one py4j round trip per operator)
        subj_sql = self._term_expr_sql(tm, root, item, tm.subject_map)
        rdf_type = sql_lit(f"<{NS.RDF_TYPE}>")

        # named graphs: subject ∪ POM target-graph union, NULL render
        # drops the graph, all-null falls back to the default graph —
        # identical to the Python tier's quad combination
        # (translate.py:419-452) and the native tabular compiler
        sub_gs = [self._term_expr_sql(tm, root, item, gm)
                  for gm in tm.graph_maps]
        sub_kinds = [gm.kind for gm in tm.graph_maps]

        def graph_variants(gsqls, kinds):
            if not gsqls:
                return [(NULL_G, None)]
            if all(k == CONSTANT for k in kinds):
                return [(g, None) for g in gsqls]
            out = [(g, f"({g} IS NOT NULL)") for g in gsqls]
            allnull = " AND ".join(f"({g} IS NULL)" for g in gsqls)
            out.append((NULL_G, f"({allnull})"))
            return out

        def entry(pred, obj, gc, cond):
            s = f"struct({pred} AS pred, {obj} AS obj, {gc} AS graph)"
            # a false condition nulls the array element; the obj-notnull
            # filter below drops it after the explode
            return s if cond is None else f"(CASE WHEN {cond} THEN {s} END)"

        sub_variants = graph_variants(sub_gs, sub_kinds)
        po_specs = []
        for cls in tm.class_uris:
            for gc, cond in sub_variants:
                po_specs.append((rdf_type, sql_lit(f"<{cls}>"), gc, cond))
        rom_selects = []
        for pom in tm.predicate_object_maps:
            gvars = graph_variants(
                sub_gs + [self._term_expr_sql(tm, root, item, gm)
                          for gm in pom.graph_maps],
                sub_kinds + [gm.kind for gm in pom.graph_maps])
            preds = [self._term_expr_sql(tm, root, item, pm)
                     for pm in pom.predicate_maps]
            for pred in preds:
                for om in pom.object_maps:
                    obj = self._term_expr_sql(tm, root, item, om)
                    for gc, cond in gvars:
                        po_specs.append((pred, obj, gc, cond))
                for rom in pom.ref_object_maps:
                    for gc, cond in gvars:
                        rom_selects.append((pred, rom, gc, cond))
        out_parts = []
        if po_specs and (self.fuse_projections or len(po_specs) == 1):
            po_entries = [entry(*spec) for spec in po_specs]
            fused = parsed.selectExpr(
                f"{subj_sql} AS subj",
                f"explode(array({', '.join(po_entries)})) AS _po")
            out_parts.append(fused.selectExpr(
                "subj", "_po.pred AS pred", "_po.obj AS obj",
                "_po.graph AS graph")
                .where("subj IS NOT NULL AND obj IS NOT NULL"))
        elif po_specs:
            # unfused: one branch per (pred, obj, graph) entry — constant
            # preds fold against downstream pattern filters, so only the
            # branches a pattern can match keep their scan in the plan
            for pred, obj, gc, cond in po_specs:
                b = parsed if cond is None else parsed.where(cond)
                out_parts.append(
                    b.selectExpr(f"{subj_sql} AS subj", f"{pred} AS pred",
                                 f"{obj} AS obj", f"{gc} AS graph")
                     .where("subj IS NOT NULL AND obj IS NOT NULL"))
        for pred, rom, gc, cond in rom_selects:
            out_parts.append(self._rom_triples(
                tm, parsed, root, item, subj_sql, pred, rom, gc, cond))
        if not out_parts:
            # subject-only TM (no class, no POM): R2RML emits rows only
            # per POM/class — same as the tabular compiler
            from .engine import TRIPLE_SCHEMA
            return self.spark.createDataFrame([], TRIPLE_SCHEMA)
        out = out_parts[0]
        for p in out_parts[1:]:
            out = out.unionByName(p)
        return out

    def _join_key(self, tm: TriplesMap, root_sql: str,
                  item_sql: Optional[str], ref: str) -> str:
        """Join-key canonicalization matching translate.msp_join_keys
        (json.dumps of the raw scalar: strings quoted+escaped, booleans
        lowercase, numbers bare)."""
        sql, dt = self._field_sql(tm, root_sql, item_sql, ref)
        if isinstance(dt, T.StringType):
            return f"concat('\"', {nt_escape_json_sql(sql)}, '\"')"
        return lexical_sql(sql, dt)

    def _rom_triples(self, tm, parsed, root, item, subj: str, pred: str,
                     rom, graph: str, cond: Optional[str]) -> DataFrame:
        """ROM triples by a join on canonical join keys; ``subj``,
        ``pred``, ``graph`` and the row condition ``cond`` are SQL text."""
        if not rom.join_conditions:
            # intersection of zero per-condition sets = empty (matches the
            # document engine / reference), never a cross product
            from .engine import TRIPLE_SCHEMA
            return self.spark.createDataFrame([], TRIPLE_SCHEMA)
        parent_tm = self.mapping.triples_maps[rom.parent_tm]
        # parent side must also be json-native compilable
        psrc, _ = self.catalog.resolve(parent_tm.logical_source)
        if not self.fuse_projections:
            # same spread+reuse argument as the child source in tm_base
            psrc = track_persist(spread(psrc))
        pschema = self._schema_for(parent_tm)
        pparsed = self._parse_select(psrc, pschema)
        proot, pitem = "`_doc`", None
        if parent_tm.logical_source.iterator is not None:
            it_parts = parent_tm.logical_source.iterator[2:-2].split(".")
            arr: Column = F.col("_doc")
            for p in it_parts:
                arr = arr[p]
            pparsed = pparsed.select("_doc", "_seq",
                                     F.explode(arr).alias("_item"))
            pitem = "`_item`"
        psubj = self._term_expr_sql(parent_tm, proot, pitem,
                                    parent_tm.subject_map)
        child_src = parsed if cond is None else parsed.where(cond)
        child_sel = child_src.selectExpr(
            f"{subj} AS subj", f"{pred} AS pred", f"{graph} AS graph",
            *[f"{self._join_key(tm, root, item, jc.child_ref)} AS _ck{i}"
              for i, jc in enumerate(rom.join_conditions)])
        parent_sel = pparsed.selectExpr(
            f"{psubj} AS _psubj",
            *[f"{self._join_key(parent_tm, proot, pitem, jc.parent_ref)}"
              f" AS _pk{i}" for i, jc in enumerate(rom.join_conditions)])
        jcond = None
        for i in range(len(rom.join_conditions)):
            c = F.col(f"_ck{i}") == F.col(f"_pk{i}")
            jcond = c if jcond is None else (jcond & c)
        joined = child_sel.join(parent_sel, jcond)
        return joined.select("subj", "pred",
                             F.col("_psubj").alias("obj"), "graph") \
                     .where(F.col("subj").isNotNull() & F.col("obj").isNotNull())


# ---------------------------------------------------------------------------
# helpers
# ---------------------------------------------------------------------------

def _schema_has(schema: T.DataType, parts: list[str]) -> bool:
    dt = schema
    for p in parts:
        if not isinstance(dt, T.StructType) or p not in dt.fieldNames():
            return False
        dt = dt[p].dataType
    return True


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


def _mongo_xsd(dt: T.DataType) -> Optional[str]:
    """JSON type → XSD, matching MorphMongoDataTranslator.scala:403-419."""
    if isinstance(dt, T.LongType):
        return NS.XSD_INTEGER
    if isinstance(dt, T.DoubleType):
        return NS.XSD_DECIMAL
    if isinstance(dt, T.BooleanType):
        return NS.XSD_BOOLEAN
    return None


def nt_escape_json_sql(inner: str) -> str:
    """json.dumps escaping of the two JSON-string metachars (text form)."""
    return ("replace(replace(" + inner
            + ", '\\\\', '\\\\\\\\'), '\"', '\\\\\"')")
