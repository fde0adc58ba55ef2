"""Unified facade: one path from mapping to plan for both of the
paper's modes.

``route_tier`` is the one place a triples map's compiler is chosen:

  - ``native``: the pure-Catalyst compiler (native.py) when the TM is
    tabular/R2RML-only (column/template/constant terms, plain-column
    joins, no iterator/nested maps) AND its refobjectmap parents are too;
  - ``json``: the json-native compiler (native_json.py) for static-path
    document TMs whose sampled schema pinned every leaf, parents too;
  - ``doc``: the Arrow-batched document compiler (engine.py) otherwise.

``materialize_auto`` (graph materialization, the reference's
``MorphRunner``, MorphRunner.scala:28-115) and ``answer_auto`` (query
rewriting) both compile through ``_routed_plan``: derived constraints
applied per tier, every TM routed, each tier compiled, one union, one
duplicate-freeness proof and, for materialization, one dedup decision.
"""

from __future__ import annotations

import logging
from typing import Optional

from pyspark.sql import DataFrame, SparkSession

from .engine import SparkMaterializer, dedup_triples
from .model import MappingDocument, TriplesMap
from .native import (NativeCompiler, is_tabular_compilable,
                     overlapping_pair, provably_distinct, union_all)
from .sources import SourceCatalog
from .translate import EngineConfig

_log = logging.getLogger(__name__)


def route_tier(mapping: MappingDocument, tm: TriplesMap,
               tables: dict, jc) -> str:
    """The TM's tier: ``"native"``, ``"json"`` or ``"doc"``.  A ROM's
    parent must live in the same compiler, so a TM whose parent does not
    qualify for a tier is demoted with it.  ``jc`` is the
    JsonNativeCompiler whose schema sample guards the json tier."""
    from .native_json import compilable as json_ok
    group = [tm] + [mapping.triples_maps[rom.parent_tm]
                    for pom in tm.predicate_object_maps
                    for rom in pom.ref_object_maps]

    def native_ok(t: TriplesMap) -> bool:
        ls = t.logical_source
        if ls.is_find() or (ls.kind == "table" and ls.value not in tables):
            return False
        return is_tabular_compilable(t)

    if all(native_ok(t) for t in group):
        return "native"
    # schema-sampling guard: a mapping-required leaf whose type the
    # sample could not pin (unseen / conflicting long-vs-double) would
    # silently drop or drift triples after row sample_n -- such TMs run
    # on the document compiler instead
    if all(json_ok(t) for t in group) \
            and not any(jc.unsafe_paths(t) for t in group):
        return "json"
    return "doc"


def _routed_plan(spark: SparkSession, mapping: MappingDocument,
                 catalog: Optional[SourceCatalog] = None,
                 tables: Optional[dict[str, DataFrame]] = None,
                 cfg: Optional[EngineConfig] = None,
                 constraints: Optional[dict] = None, dedup: bool = False,
                 fused: Optional[dict] = None):
    """Compile ``mapping`` with every TM on its routed tier.  Returns
    ``(triples, tiers, distinct)``: the union of the per-TM plans, the
    tier of every emitting TM, and a thunk for the plan's one
    duplicate-freeness proof.

    ``dedup`` (materialization) deduplicates the triples, in the first
    mode that applies, logged at DEBUG: ``eliminated`` when ``distinct``
    proves there is nothing to drop; ``keyed`` when every TM dedups
    exactly on its entry ids and typed leaf values
    (``CatalystCompiler.keyed_triples``) and the TMs are pairwise
    disjoint; otherwise ``hashed`` (``engine.dedup_triples``).

    ``constraints`` (the first half of rewrite.derive_tm_plan) selects
    answering mode, ``None`` materialization.  In answering mode a TM whose
    constraint is ``[]`` is skipped on every tier (it emits nothing but
    stays in the mapping as a ROM join parent), the others' row filters
    / composed find() filters come from rewrite.constrained_plan.  The
    TMs in ``fused`` (rewrite.derive_tm_plan: TM name → the
    variable-predicate pattern that may match it) compile to one fused
    scan; the native and json-native compilers emit every other TM as
    one branch per predicate, so the evaluator's pattern filters prune
    the branches they cannot match.  Each TM's choice, ``fused`` or
    ``per-predicate``, is logged at DEBUG with its reason."""
    cfg = cfg or EngineConfig()
    tables = tables or {}
    catalog = catalog or SourceCatalog()
    answering = constraints is not None
    row_filters: dict = {}
    skip: frozenset = frozenset()
    # None: materialization, every TM fused
    fused = (fused or {}) if answering else None
    if answering:
        from .rewrite import constrained_plan
        # the $renderIn mirror assumes the DEFAULT literal render pipeline
        push_render = cfg.literal_trim and not cfg.encode_literal_quotes
        mapping, row_filters = constrained_plan(mapping, constraints,
                                                push_render)
        skip = frozenset(n for n, c in constraints.items() if c == [])

    from .native_json import JsonNativeCompiler
    jc = JsonNativeCompiler(spark, mapping, catalog, cfg, fused=fused)
    tiers = {n: route_tier(mapping, tm, tables, jc)
             for n, tm in mapping.triples_maps.items() if n not in skip}
    if answering:
        for n in tiers:
            if n in fused:
                _log.debug("%s fused: pattern %s", n, fused[n])
            else:
                _log.debug("%s per-predicate: no variable-predicate "
                           "pattern matches it", n)
    by_tier = {t: [mapping.triples_maps[n] for n, tn in tiers.items()
                   if tn == t] for t in ("native", "json", "doc")}
    # the document compiler reads tables through the catalog and SQL-text
    # sources read its temp views; a registration costs one view command
    # per table, so only plans that read them pay it
    if by_tier["doc"] or any(
            tm.logical_source.kind != "table"
            and not tm.logical_source.is_find()
            for tm in mapping.triples_maps.values()):
        for name, df in tables.items():
            catalog.register_table(name, df)

    nc = NativeCompiler(spark, mapping, tables, cfg, fused=fused,
                        tm_row_filters=row_filters)

    def distinct() -> bool:
        """The plan provably emits no duplicate triple: each native TM
        by the tabular compiler's check, each json-native or document TM
        by the schemaless one (the proof is about mapping semantics, so
        both document tiers share it), and every pair of emitting TMs
        disjoint."""
        return provably_distinct(
            [mapping.triples_maps[n] for n in tiers],
            lambda tm: (nc if tiers[tm.name] == "native" else jc)
            .tm_distinct(tm))

    mode = None
    if dedup:
        if distinct():
            mode, why = "eliminated", "the plan emits no duplicate triple"
        else:
            keyed, why = _keyed_parts(mapping, tiers, {"native": nc,
                                                       "json": jc})
            mode = "hashed" if keyed is None else "keyed"
        _log.debug("dedup %s: %s", mode, why)
        if mode == "keyed":
            return union_all(spark, keyed), tiers, distinct
    parts = [nc.tm_triples(tm) for tm in by_tier["native"]]
    parts += [jc.tm_triples(tm) for tm in by_tier["json"]]
    if by_tier["doc"]:
        sm = SparkMaterializer(spark, mapping, catalog, cfg)
        parts += [sm._tm_triples(tm) for tm in by_tier["doc"]]
    out = union_all(spark, parts)
    if mode == "hashed":
        # native and json-native TMs emit one triple per (row, term map)
        # -- mostly distinct, where the map-side partial agg only burns
        # memory (measured 2.4x at 66M triples).  Document-tier TMs
        # (iterator re-emission) keep the default map-side collapse.
        out = dedup_triples(out, prepartition="doc" not in tiers.values())
    return out, tiers, distinct


def _keyed_parts(mapping: MappingDocument, tiers: dict, compilers: dict):
    """``(parts, why)``: every emitting TM's keyed dedup, or ``(None,
    why)`` naming the first TM, term or pair the proof refuses."""
    doc = [n for n, t in tiers.items() if t == "doc"]
    if doc:
        return None, f"{doc[0]} runs on the Python document tier"
    tms = [mapping.triples_maps[n] for n in tiers]
    pair = overlapping_pair(tms)
    if pair is not None:
        return None, (f"{pair[0].name} and {pair[1].name} may emit the "
                      f"same triple")
    parts = []
    for tm in tms:
        part, why = compilers[tiers[tm.name]].keyed_triples(tm)
        if part is None:
            return None, why
        parts.append(part)
    return parts, ("on entry ids and typed leaf values of "
                   + ", ".join(tiers))


def materialize_auto(spark: SparkSession, mapping: MappingDocument,
                     catalog: Optional[SourceCatalog] = None,
                     tables: Optional[dict[str, DataFrame]] = None,
                     cfg: Optional[EngineConfig] = None,
                     dedup: bool = True) -> DataFrame:
    """One call, one triple DataFrame with every TM on its routed tier;
    deduplicated (Jena set semantics) unless ``dedup=False`` -- the
    drop-in equivalent of the reference's materialization mode.  The
    dedup mode and its reason are logged at DEBUG (``_routed_plan``)."""
    return _routed_plan(spark, mapping, catalog, tables, cfg,
                        dedup=dedup)[0]


def answer_auto(spark: SparkSession, mapping: MappingDocument,
                query_text,
                catalog: Optional[SourceCatalog] = None,
                tables: Optional[dict[str, DataFrame]] = None,
                cfg: Optional[EngineConfig] = None) -> DataFrame:
    """Answer a SPARQL query with source pushdown wherever the mapping
    allows (the query-side twin of ``materialize_auto``).  The
    reference's runner instantiates one translator per source
    (MorphRDBUnfolder.scala:65-97 for SQL conditions,
    MorphMongoDataSourceReader.scala:52-70 for find() filters); here:

      1. aggregate/DISTINCT pushdown (aggpush.py) when bindings provably
         equal source rows -- no triple pool at all;
      2. constraints and the fused TMs derived ONCE for every TM
         (rewrite.py);
      3. the routed plan: ``.where`` row filters on native scans
         (parquet PushedFilters), composed find() filters on document
         scans, TMs that match nothing skipped;
      4. the evaluator over that plan, with its per-pattern dedup
         dropped when the plan is provably duplicate-free."""
    from .rewrite import _eng_answer, derive_tm_plan
    from .sparql import SparqlEngine, parse_sparql
    tables = tables or {}
    catalog = catalog or SourceCatalog()
    q = query_text if not isinstance(query_text, str) \
        else parse_sparql(query_text)
    from .aggpush import try_aggregate_pushdown_auto
    fast = try_aggregate_pushdown_auto(spark, mapping, q, tables=tables,
                                       catalog=catalog, cfg=cfg)
    if fast is not None:
        return fast
    constraints, fused = derive_tm_plan(mapping, q, tables)
    triples, _tiers, distinct = _routed_plan(spark, mapping, catalog, tables,
                                             cfg, constraints, fused=fused)
    eng = SparqlEngine(triples, dedup_source=not distinct())
    return _eng_answer(spark, eng, q)


def run_materialization(spark: SparkSession, properties_path: str,
                        catalog: Optional[SourceCatalog] = None,
                        tables: Optional[dict[str, DataFrame]] = None,
                        output_path: Optional[str] = None) -> DataFrame:
    """MorphRunner-equivalent one-shot (MorphRunner.scala:28-115): read a
    morph.properties file, materialize its mapping document, and — when
    ``output_path`` is given — serialize in the configured
    ``output.syntax.rdf`` (driver-side pretty writer, like the
    reference's whole-model Jena write).  Returns the triple DataFrame
    either way.  Database-connection properties don't apply: sources are
    DataFrames, registered via ``catalog``/``tables``."""
    from .properties import MorphProperties
    props = MorphProperties.from_file(properties_path)
    if props.mapping_path is None:
        raise ValueError("properties file lacks mappingdocument.file.path")
    mapping = MappingDocument.from_file(props.mapping_path)
    if props.tm_limit is not None or props.tm_offset is not None:
        # datatranslation.limit/offset slice the raw source rows — only
        # the document engine positions the slice before translation, so
        # route through it (the reference applies LIMIT/OFFSET in the
        # unfolded source query, SQLQuery.scala:392,410)
        cat = catalog or SourceCatalog()
        for name, df in (tables or {}).items():
            cat.register_table(name, df)
        sm = SparkMaterializer(spark, mapping, cat, props.config,
                               tm_limit=props.tm_limit,
                               tm_offset=props.tm_offset)
        triples = sm.triples()
    else:
        triples = materialize_auto(spark, mapping, catalog=catalog,
                                   tables=tables, cfg=props.config)
    if output_path is not None:
        from .rdf_io import serialize
        text = serialize(triples, props.output_syntax, mapping.prefixes)
        with open(output_path, "w", encoding="utf-8") as f:
            f.write(text)
    return triples
