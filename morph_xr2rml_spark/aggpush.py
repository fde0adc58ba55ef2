"""Aggregate / DISTINCT pushdown: the first step of api.answer_auto.

The evaluator answers ``SELECT ?k (SUM(?v) AS ?s) ... GROUP BY ?k`` by
materializing the mapping's triple pool (term strings for every
predicate-object slot, union across slots, per-pattern dedup), joining
the patterns, parsing numeric values back OUT of the term strings, and
grouping.  At scale that renders one subject-template concat and one
object term per POM per source row before a single row is aggregated.

When the query's shape lets us prove bindings == source rows, the whole
query instead compiles to::

    scan(cols).where(slot-not-null & filters).groupBy(key).agg(...)

-- the plan a SQL user would write by hand: the scan reads ONLY the
referenced columns (pruned ReadSchema), there is no per-POM union, no
triple dedup exchange, no subject render unless the subject is
projected, and SUM/AVG/MIN/MAX run on native numeric casts instead of
string-parsed lexicals.  Map-side partial aggregation then makes the
one remaining exchange carry group rows, not source rows.

The reference cannot do this at all: its abstract-query rewriter emits
per-pattern target queries and evaluates joins/aggregates in Jena over
the materialized model (MorphMongoQueryProcessor.scala:45-150 evaluates
the SPARQL against an in-memory Model; aggregation never reaches the
source).  Proving bindings == rows needs the compile-time uniqueness
theorems (the compilers' subject_unique) that only exist here.

Soundness discipline (same as rewrite.py): this is a FAST PATH -- on
ANY shape or provability doubt `try_aggregate_pushdown_auto` returns
None and `api.answer_auto` goes on to its routed plan under the full
evaluator.  A pushed plan must be an EXACT mirror (not a superset):
there is no evaluator behind it to re-apply the real semantics.  The
preconditions:

* WHERE is one BGP of triple patterns plus FILTERs, BINDs, VALUES,
  single-pattern ``OPTIONAL { ?s pred ?fresh }`` groups (nullable term
  columns; see _build_single_frame), pure UNIONs of flat BGPs,
  pushable subqueries and FILTER (NOT) EXISTS / MINUS over flat BGPs
  -- no GRAPH and no richer optionals (those keep evaluator semantics
  the mirror does not replicate);
* every pattern is ``?s <const-pred> ?o-or-constant``, grouped by
  subject variable; several groups join as a tree over referencing-
  object-map edges (_build_join_frame).  An rdf:type pattern needs a
  constant class (class objects multiply per class).  Constant objects
  match by the evaluator's own rule, `sparql.const_term_match` (IRI
  equality, plain-literal prefix match, typed-literal exact match,
  numeric-value equality);
* the SELECT tail over the native bindings frame is the EVALUATOR'S
  OWN code (`_apply_tail`): BIND, VALUES, HAVING and ORDER BY/OFFSET/
  LIMIT are the SparqlEngine methods `_join_group` and `evaluate` call
  (`_apply_binds`, `_apply_values`, `_apply_having`,
  `_slice_solutions`), and FILTER, HAVING and SELECT expressions go
  through its expression compiler (an empty-pool SparqlEngine borrowed
  for `_filter_col`/`_operand_col`), so their semantics are exact by
  construction, not by re-implementation.  Only aggregation is built
  here, over pre-mirrored inputs.  Filters with EXISTS inside an
  expression are refused (they need the triple pool);
* every mapping TM has compile-time-constant predicates (otherwise a
  TM's contribution cannot be bounded) and any TM emitting SOME of the
  pattern predicates has a subject space pairwise disjoint from every
  other contributor (so no binding can straddle two TMs and no triple
  is emitted twice);
* a contributing TM emits EVERY pattern predicate through exactly one
  plain object slot (no RefObjectMap, no same-pred second slot);
* bindings == rows needs distinct triples and a self-join-free subject
  join, so each contributor must pass its compiler's `subject_unique`
  (xrr:uniqueRef through an injective render).  Exception: a
  SINGLE-pattern DISTINCT-only query projects away multiplicity, so it
  pushes with no uniqueness proof at all (filters are deterministic,
  so filter-then-distinct commutes with distinct-then-filter).

Aggregate input mirrors (vs the evaluator's ``fn(numeric_value(term))``
over doubles):

* COUNT(?v) / COUNT(*): every surviving row binds ?v (the not-null
  conditions are the binding conditions), so ``count(1)`` is exact;
* COUNT(DISTINCT ?v) / SAMPLE / GROUP_CONCAT: computed over the exact
  rendered term (same `term_sql` the pool would use);
* SUM/AVG/MIN/MAX: ``cast(col as double)`` where the lexical round-trip
  is provably value-identical (integral, decimal, double columns --
  both paths round-to-nearest-double the same value); everything else
  (strings, templates, float's shortest-repr round-trip, non-numeric
  lexicals) keeps the evaluator's own ``numeric_value(term)``
  expression, which is exact by construction.

Float-sum caveat shared with the evaluator: double addition is
reassociated by partial aggregation in BOTH paths, so neither defines a
bit-exact sum order; the mirrors produce the same input multiset.
"""

from __future__ import annotations

from typing import Optional

from pyspark.sql import Column, DataFrame, SparkSession, functions as F
from pyspark.sql import types as T

from . import namespaces as NS
from .api import route_tier
from .model import (COLUMN, CONSTANT, REFERENCE, MappingDocument, TermMap,
                    pred_slots)
from .native import NativeCompiler, subject_space, subject_spaces_disjoint
from .sources import SourceCatalog
from .sparql import (SelectQuery, SparqlEngine, TriplePattern,
                     aggregate_specs, const_term_match, distinct_numeric_agg,
                     lexical_value, numeric_value)

# filter/operand AST nodes that depend on evaluation-time state the
# borrowed expression compiler cannot supply here: EXISTS needs the
# triple pool; aggref nodes resolve in the HAVING block only
_FORBIDDEN_AST = {"existsexpr", "existsflag", "aggref"}

# direct cast(col as double) provably equals Double.parse(lexical(col)):
# both are round-to-nearest-double of the exact decimal value.  FLOAT is
# excluded (cast widens the binary value; the lexical is the SHORTEST
# decimal repr, which parses to a different double for most floats).
_EXACT_DOUBLE_CAST = (T.ByteType, T.ShortType, T.IntegerType, T.LongType,
                      T.DecimalType, T.DoubleType)
# lexical forms that can never parse as a double
_NEVER_NUMERIC = (T.TimestampType, T.TimestampNTZType, T.DateType,
                  T.BooleanType)

_AGG_FUNCS = {"COUNT", "SUM", "AVG", "MIN", "MAX", "SAMPLE", "GROUP_CONCAT"}


def _ast_vars(node, out: set) -> bool:
    """Collect variable references into `out`; False when the AST holds
    a pool-dependent node kind the borrowed compiler cannot evaluate."""
    if isinstance(node, tuple):
        if node and node[0] in _FORBIDDEN_AST:
            return False
        if node and node[0] == "var":
            out.add(node[1])
            return True
        return all(_ast_vars(e, out) for e in node)
    if isinstance(node, list):
        return all(_ast_vars(e, out) for e in node)
    return True


def _having_ok(node, group_keys: set, known_vars: set) -> bool:
    """HAVING ASTs may hold aggref nodes (resolved to hidden aliases);
    their inputs must be pattern variables, and plain variable
    references must be group keys (the evaluator filters the aggregated
    frame, where only keys and aliases exist)."""
    if isinstance(node, tuple):
        if node and node[0] == "aggref":
            return (node[1] in _AGG_FUNCS
                    and (node[2] is None or node[2] in known_vars))
        if node and node[0] in ("existsexpr", "existsflag"):
            return False
        if node and node[0] == "var":
            return node[1] in group_keys
        return all(_having_ok(e, group_keys, known_vars) for e in node)
    if isinstance(node, list):
        return all(_having_ok(e, group_keys, known_vars) for e in node)
    return True


def _expr_engine(spark: SparkSession) -> SparqlEngine:
    """A SparqlEngine over an EMPTY pool, borrowed purely for its
    filter/operand expression compiler (`_filter_col`/`_operand_col`
    are pool-independent for the AST kinds admitted above): filters
    over the native bindings frame then carry the evaluator's exact
    semantics by construction, not by re-implementation."""
    from .engine import TRIPLE_SCHEMA
    return SparqlEngine(spark.createDataFrame([], TRIPLE_SCHEMA))


def _term(c, ctx, m: TermMap) -> Column:
    """The term the tier's materialized pool renders for ``m``."""
    return F.expr(c.term_sql(ctx, m))


def _notnull(c, ctx, m: TermMap) -> Column:
    """Exact: the pool drops a row on the same leaf null test."""
    null = c.term_null_sql(ctx, m)
    return F.lit(True) if null is None else ~F.expr(null)


def _numeric(c, ctx, m: TermMap) -> Column:
    """Mirror of ``numeric_value(term)`` (the evaluator's SUM/AVG/MIN/MAX
    input and numeric-constant pattern probe), using a native cast
    exactly where the round-trip is provably value-identical (not under
    an explicit xsd:boolean, whose render normalizes the lexical)."""
    if m.kind in (COLUMN, REFERENCE) and m.datatype != NS.XSD_BOOLEAN:
        sql, dtype = c.leaf(ctx, m.column if m.kind == COLUMN
                            else m.reference)
        if isinstance(dtype, _EXACT_DOUBLE_CAST):
            return F.expr(f"CAST({sql} AS DOUBLE)")
        if isinstance(dtype, _NEVER_NUMERIC):
            return F.lit(None).cast("double")
    return numeric_value(_term(c, ctx, m))


class _BindingTier:
    """Picks each TM's Catalyst compiler for the bindings frames.  The
    tier is the router's (api.route_tier): only a TM routed native or
    json-native is a candidate, so the mirror renders are the SAME
    expressions the materialized pool would use (``term_sql`` over the
    compiler's ``scan``); a TM routed to the Python document compiler
    refuses.  Own refusals on top: graph maps (quads multiply bindings
    per graph) and iterator / pushDown TMs (one subject spans several
    items, which breaks bindings == rows)."""

    def __init__(self, spark, mapping, cfg, tables, catalog):
        from .native_json import JsonNativeCompiler
        self.mapping = mapping
        self.tables = tables or {}
        self.tab = NativeCompiler(spark, mapping, self.tables, cfg,
                                  fused=frozenset())
        self.doc = JsonNativeCompiler(spark, mapping,
                                      catalog or SourceCatalog(), cfg)

    def kind(self, tm):
        """The TM's compiler, or None."""
        if tm.graph_maps or any(pom.graph_maps
                                for pom in tm.predicate_object_maps):
            return None          # quads multiply bindings per graph
        if tm.logical_source.iterator is not None \
                or tm.logical_source.pushdowns:
            return None
        try:
            tier = route_tier(self.mapping, tm, self.tables, self.doc)
        except KeyError:
            # an unregistered collection or table (SourceCatalog.resolve,
            # reached through the json tier's schema sample) or a ROM
            # naming no TM.  A JSON schema conflict never escapes: the
            # sampler marks the leaf unsafe and the TM routes "doc"
            return None
        return {"native": self.tab, "json": self.doc}.get(tier)


def _tm_needed_slots(tm, needed: set) -> Optional[dict]:
    """The TM's `pred_slots` for the needed pattern predicates, or None
    when any predicate map is non-constant (the TM's emissions cannot be
    bounded -- caller must fall back).  rdf:type is handled by
    `_tm_type_consts`, never through slots."""
    slots = pred_slots(tm)
    if slots is None:
        return None
    return {p: slot for p, slot in slots.items() if p in needed}


def _sole_om(slot, om_kinds) -> Optional[TermMap]:
    """The slot's one object map when it is the predicate's only,
    mirrorable emission (no referencing object map, no second object
    map, a term kind the tier renders); else None."""
    oms, roms = slot
    if roms or len(oms) != 1 or oms[0].kind not in om_kinds:
        return None
    return oms[0]


def _tm_type_consts(tm) -> Optional[set]:
    """The set of constant rdf:type object IRIs the TM emits (rr:class
    plus constant-object rdf:type POMs), or None when an rdf:type POM
    has a NON-constant object -- the TM could then emit any class and
    its contribution to a type pattern cannot be bounded -- or when a
    predicate map is non-constant (its callers refuse such a TM
    anyway)."""
    slots = pred_slots(tm)
    if slots is None:
        return None
    oms, roms = slots.get(NS.RDF_TYPE, ((), ()))
    if roms or any(om.kind != CONSTANT or om.constant is None
                   or om.constant[0] != "iri" for om in oms):
        return None
    return set(tm.class_uris) | {om.constant[1] for om in oms}


def _const_obj_cond(c, ctx, om, okind, oval) -> Optional[Column]:
    """Constant-object row condition: the evaluator's own match rule
    (`const_term_match`) over the rendered term, with the native-cast
    numeric value; None = unmirrorable numeric lexical (caller
    refuses)."""
    t = _term(c, ctx, om)
    try:
        return const_term_match(t, okind, oval, _numeric(c, ctx, om)
                                if okind == "num" else None)
    except ValueError:
        return None


def _emits_input(func: str, var, dist: bool, computed: set,
                 nullable: set) -> bool:
    """Whether the bindings frame carries an aggregate's ``#a{i}``
    input column.  Not for COUNT(*), not for an input computed after
    the frame is built (`_apply_tail` adds those), and not for a plain
    COUNT of a var that is never NULL on the frame: ``count(1)`` is
    exact there."""
    return (var is not None and var not in computed
            and not (func == "COUNT" and not dist and var not in nullable))


def _frame_cols(c, ctx, home, term_vars: list, specs: list,
                computed: set, nullable: set) -> list:
    """One TM frame's term columns and aggregate-input columns.
    ``home(v)`` is ``(here, m)``: whether v lives on this frame, and
    its term map there (None: a NULL column -- an optional slot the TM
    never emits, or a var bound only in a sibling UNION branch)."""
    cols = []
    for v in term_vars:
        here, m = home(v)
        if here:
            cols.append((F.lit(None).cast("string") if m is None
                         else _term(c, ctx, m)).alias(v))
    for i, (func, var, dist, _alias, _sep) in enumerate(specs):
        if not _emits_input(func, var, dist, computed, nullable):
            continue
        here, m = home(var)
        if not here:
            continue
        if m is None:            # absent optional/branch slot: typed NULLs
            dt = "double" if (func in ("SUM", "AVG", "MIN", "MAX")
                              and not dist) else "string"
            col = F.lit(None).cast(dt)
        elif dist and func in ("SUM", "AVG"):
            # DISTINCT dedupes TERMS first: ship the exact term
            col = _term(c, ctx, m)
        elif func in ("SUM", "AVG", "MIN", "MAX"):
            col = _numeric(c, ctx, m)
        elif func == "GROUP_CONCAT":
            col = lexical_value(_term(c, ctx, m))
        else:                    # COUNT (DISTINCT) / SAMPLE: exact term
            col = _term(c, ctx, m)
        cols.append(col.alias(f"#a{i}"))
    return cols


def _bindings_frame(tier, mapping: MappingDocument, groups: dict,
                    obj_binding: dict, opt_binding: dict, term_vars: list,
                    specs: list, computed: set,
                    absent: frozenset = frozenset(),
                    nullable: Optional[set] = None) -> Optional[DataFrame]:
    """One BGP's bindings frame: the single-subject builder when no
    subject is bound as an object, else -- or when it refuses -- the
    join-tree builder (a single visible group can still need it: an
    edge predicate whose object var is never a subject is a
    pseudo-group against the ROM parent)."""
    if len(groups) == 1 and not any(v in groups for v in obj_binding):
        u = _build_single_frame(tier, mapping, groups, opt_binding,
                                term_vars, specs, computed, absent,
                                nullable)
        if u is not None:
            return u
    return _build_join_frame(tier, mapping, groups, obj_binding,
                             opt_binding, term_vars, specs, computed,
                             absent, nullable)


def _build_join_frame(tier, mapping: MappingDocument, groups: dict,
                      obj_binding: dict, opt_binding: dict,
                      term_vars: list, specs: list, computed: set,
                      absent: frozenset = frozenset(),
                      nullable: Optional[set] = None
                      ) -> Optional[DataFrame]:
    """Multi-subject BGP (a join tree over referencing-object-map edges)
    compiled to scans + equi-joins: the reference's flagship analytics
    shape (orders -> customer -> nation) without materializing a single
    term string before the join.

    Soundness: every group's cover TM must uniquely render subjects
    (cross-row subject joins collapse to rows), edges join child rows to
    parent rows on the ROM's raw join columns -- equivalent to the
    evaluator's term-string join because the parent subject render is
    injective-unique, so term equality <=> the raw-matched parent row.
    Edge predicates must have a SOLE emitter mapping-wide (another TM's
    om-rendered objects could leak into the parent's subject space);
    non-edge predicates/classes allow extra emitters only with subject
    spaces disjoint from the cover's (they then provably contribute no
    binding: an edge-target subject lies in the cover's space, and a
    multi-pattern subject would need both spaces at once)."""
    if nullable is None:
        nullable = set(opt_binding) | set(absent)
    all_types = set().union(*[g["types"] for g in groups.values()])
    # ---- per-TM slot metadata (constant predicates required) ----------
    all_preds = set().union(*[g["needed"] for g in groups.values()],
                            {p for _gv, p in opt_binding.values()})
    tm_slots: dict = {}          # tm name -> {pred: (oms, roms)}
    tm_types: dict = {}          # tm name -> type consts
    for tm in mapping.triples_maps.values():
        tc = _tm_type_consts(tm)
        if tc is None:
            if all_types:
                return None      # dynamic rdf:type object: cannot bound
            tc = set()
        tm_types[tm.name] = tc
        slots = _tm_needed_slots(tm, all_preds)
        if slots is None:
            return None          # dynamic predicate: cannot bound
        tm_slots[tm.name] = slots

    # ---- cover per group: fixpoint resolution -------------------------
    # A group with exactly one covering TM resolves directly; an edge
    # TARGET's cover is FORCED to the ROM's parent TM (its subjects can
    # only be parent renders), which disambiguates multi-emitter
    # predicates like a shared ex:name.  Iterate until settled.
    def _candidates(grp):
        return [tm for tm in mapping.triples_maps.values()
                if set(tm_slots[tm.name]) >= grp["needed"]
                and grp["types"] <= tm_types[tm.name]]

    cover: dict = {}
    progress = True
    while progress and len(cover) < len(groups):
        progress = False
        for gv, grp in groups.items():
            if gv in cover:
                continue
            cands = _candidates(grp)
            if len(cands) == 1:
                cover[gv] = cands[0]
                progress = True
        # propagate forced covers through resolved children's ROM edges
        for gv in list(cover):
            for var, pred in groups[gv]["var_pred"].items():
                if var not in groups or var in cover:
                    continue
                ent = tm_slots[cover[gv].name].get(pred)
                if ent and len(ent[1]) == 1 and not ent[0]:
                    parent = mapping.triples_maps[ent[1][0].parent_tm]
                    if set(tm_slots[parent.name]) >= groups[var]["needed"] \
                            and groups[var]["types"] \
                            <= tm_types[parent.name]:
                        cover[var] = parent
                        progress = True
                    else:
                        return None  # forced cover can't serve the group
    if len(cover) < len(groups):
        return None
    for gv, grp in groups.items():
        csp = subject_space(cover[gv])
        for tm in mapping.triples_maps.values():
            if tm.name == cover[gv].name:
                continue
            if set(tm_slots[tm.name]) & grp["needed"] \
                    or tm_types[tm.name] & grp["types"]:
                if not subject_spaces_disjoint(subject_space(tm), csp):
                    return None

    # ---- edges / pseudo-groups ----------------------------------------
    def _cover_slot(gv: str, pred: str):
        oms, roms = tm_slots[cover[gv].name][pred]
        if oms and roms:
            return None
        if len(oms) == 1 and not roms:
            return ("om", oms[0])
        if len(roms) == 1 and not oms:
            return ("rom", roms[0])
        return None

    edges: list = []             # (child gv, parent gv, rom)
    for var, (gv, pred) in list(obj_binding.items()):
        slot = _cover_slot(gv, pred)
        if slot is None:
            return None
        skind, payload = slot
        if skind == "rom":
            rom = payload
            if not rom.join_conditions:
                return None
            # sole emitter mapping-wide for edge predicates
            for tm in mapping.triples_maps.values():
                if tm.name != cover[gv].name and pred in tm_slots[tm.name]:
                    return None
            if var in groups:
                if cover[var].name != rom.parent_tm:
                    return None
            else:                # pseudo-group: the parent's subjects
                groups[var] = {"var_pred": {}, "const": [],
                               "types": set(), "pats": set(),
                               "needed": set()}
                cover[var] = mapping.triples_maps[rom.parent_tm]
            edges.append((gv, var, rom))
        elif var in groups:
            return None          # om-rendered object joining subjects
    for gv, grp in groups.items():
        for pred, _ok, _ov in grp["const"]:
            slot = _cover_slot(gv, pred)
            if slot is None or slot[0] != "om":
                return None
    for gv, grp in groups.items():
        for v, pred in grp["var_pred"].items():
            if v not in groups:  # plain object var: needs an om slot
                slot = _cover_slot(gv, pred)
                if slot is None or slot[0] != "om":
                    return None

    # ---- connected tree -----------------------------------------------
    nodes = set(groups)
    if len(edges) != len(nodes) - 1:
        return None
    adj: dict = {}
    for a, b, _r in edges:
        adj.setdefault(a, []).append(b)
        adj.setdefault(b, []).append(a)
    # the first group in query order: a set's first element would follow
    # the string-hash seed, and with it which frame leads the join chain
    root = next(iter(groups))
    seen = {root}
    stack = [root]
    while stack:
        for n in adj.get(stack.pop(), []):
            if n not in seen:
                seen.add(n)
                stack.append(n)
    if seen != nodes:
        return None

    # ---- tier + uniqueness (joins always need it) ---------------------
    kinds: dict = {}
    for gv, tm in cover.items():
        c = tier.kind(tm)
        if c is not tier.tab:
            return None          # raw-key joins need tabular columns
        kinds[gv] = c
        if not c.subject_unique(tm):
            return None

    # ---- OPTIONAL slots: nullable columns on the owning group --------
    # Resolved AFTER pseudo-groups so an optional over an edge target
    # lands on the ROM parent's frame.  Exact because every group's
    # subjects are unique (the left join pairs each row with at most its
    # own optional value) and every foreign emitter of the predicate is
    # provably subject-space-disjoint from the owner's cover
    opt_slot: dict = {}          # var -> (gv, om or None)
    for var, (gv, pred) in opt_binding.items():
        if gv not in groups:
            return None          # optional over a plain om-rendered object
        ctm = cover[gv]
        for tm in mapping.triples_maps.values():
            if tm.name != ctm.name and pred in tm_slots[tm.name]:
                if not subject_spaces_disjoint(subject_space(tm),
                                               subject_space(ctm)):
                    return None
        ent = tm_slots[ctm.name].get(pred)
        if ent is None:
            opt_slot[var] = (gv, None)   # never emitted: NULL column
        else:
            om = _sole_om(ent, kinds[gv].TERM_KINDS)
            if om is None:
                return None
            opt_slot[var] = (gv, om)

    anchor = next(iter(groups))  # NULL columns for sibling-branch vars

    def var_home(v: str):
        if v in absent:
            return anchor, None  # bound only in a sibling UNION branch
        if v in opt_slot:
            return opt_slot[v]
        if v in groups:
            return v, cover[v].subject_map
        gv0, pred = obj_binding[v]
        return gv0, _cover_slot(gv0, pred)[1]

    # ---- per-group frames ---------------------------------------------
    frames: dict = {}
    for gv, grp in groups.items():
        tm, c = cover[gv], kinds[gv]
        df, ctx = c.scan(tm)
        cond = _notnull(c, ctx, tm.subject_map)
        for v, pred in grp["var_pred"].items():
            if v not in groups:
                cond = cond & _notnull(c, ctx, _cover_slot(gv, pred)[1])
        for pred, okind, oval in grp["const"]:
            oc = _const_obj_cond(c, ctx, _cover_slot(gv, pred)[1], okind,
                                 oval)
            if oc is None:
                return None
            cond = cond & oc
        def home(v: str):
            hg, m = var_home(v)
            return hg == gv, m

        cols = _frame_cols(c, ctx, home, term_vars, specs, computed,
                           nullable)
        for ei, (cgv, pgv, rom) in enumerate(edges):
            if gv == cgv:
                cols.extend(F.col(jc.child_ref).alias(f"#ck{ei}_{i}")
                            for i, jc in enumerate(rom.join_conditions))
            if gv == pgv:
                cols.extend(F.col(jc.parent_ref).alias(f"#pk{ei}_{i}")
                            for i, jc in enumerate(rom.join_conditions))
        frames[gv] = df.where(cond).select(*cols)

    # ---- fold the tree (raw-key equi-joins, same equality the native
    # ROM join uses -- term construction never precedes an exchange) ----
    cur = frames[root]
    visited = {root}
    remaining = list(enumerate(edges))
    while remaining:
        for idx, (ei, (cgv, pgv, rom)) in enumerate(remaining):
            other = pgv if cgv in visited else \
                (cgv if pgv in visited else None)
            if other is None:
                continue
            cond = None
            for i in range(len(rom.join_conditions)):
                eq = F.col(f"#ck{ei}_{i}") == F.col(f"#pk{ei}_{i}")
                cond = eq if cond is None else (cond & eq)
            cur = cur.join(frames[other], cond, "inner")
            visited.add(other)
            del remaining[idx]
            break
    return cur


def try_aggregate_pushdown_auto(spark: SparkSession,
                                mapping: MappingDocument, q: SelectQuery,
                                tables=None, catalog=None,
                                cfg=None) -> Optional[DataFrame]:
    """The one entry (api.answer_auto): each contributing TM opens on
    the tier the router gives it; the union spans tiers."""
    return _try_push(spark, mapping, q,
                     lambda: _BindingTier(spark, mapping, cfg,
                                          tables=tables, catalog=catalog))


def _build_single_frame(tier, mapping: MappingDocument, groups: dict,
                        opt_binding: dict, term_vars: list, specs: list,
                        computed: set, absent: frozenset = frozenset(),
                        nullable: Optional[set] = None
                        ) -> Optional[DataFrame]:
    """Single-subject BGP: per-TM binding frames unioned across all
    disjoint candidate TMs (the multi-TM case the join builder does not
    cover), with the single-pattern DISTINCT uniqueness waiver.

    OPTIONAL slots (``OPTIONAL { ?s pred ?fresh }``): the evaluator's
    left join over a subject-unique pool collapses to a NULLABLE term
    column -- present when the candidate TM renders the term, NULL when
    the term is NULL or the TM never emits the predicate.  Exactness
    needs subject uniqueness unconditionally (two source rows rendering
    the same subject would pair every main row with EVERY optional
    value in the evaluator but only its own row's value here), a sole
    mirrorable slot on each candidate, and every foreign emitter of the
    predicate provably subject-space-disjoint (its triples can then
    never match a candidate's subjects)."""
    if nullable is None:
        nullable = set(opt_binding) | set(absent)
    (subj, _grp1), = groups.items()
    var_pred = _grp1["var_pred"]
    const_pats = _grp1["const"]
    type_pats = _grp1["types"]
    needed = _grp1["needed"]
    seen_pats = _grp1["pats"]
    for gv, _pred in opt_binding.values():
        if gv != subj:
            return None          # optional over a plain object var
    opt_preds = {pred for _gv, pred in opt_binding.values()}
    contributors = []            # (tm, full_slots or None, opt_slots)
    kinds: dict = {}             # tm name -> its compiler
    for tm in mapping.triples_maps.values():
        slots = _tm_needed_slots(tm, needed | opt_preds)
        if slots is None:
            return None          # dynamic predicates: cannot bound
        type_consts = _tm_type_consts(tm) if type_pats else set()
        if type_consts is None:
            return None          # dynamic rdf:type object: cannot bound
        if not slots and not (type_pats & type_consts):
            continue             # emits no pattern predicate: irrelevant
        covers = needed <= set(slots) and type_pats <= type_consts
        full_slots = None
        opt_slots: dict = {}
        # route the TM only when every needed slot is one plain object map
        c = tier.kind(tm) if covers and all(
            not slots[p][1] and len(slots[p][0]) == 1 for p in needed) \
            else None
        if c is not None:
            oms = {p: _sole_om(slots[p], c.TERM_KINDS) for p in needed}
            if None not in oms.values():
                full_slots = oms
                kinds[tm.name] = c
                # optional slots this candidate emits: must be solely
                # and exactly mirrorable, else the left join cannot
                # collapse to a column
                for p in opt_preds:
                    if p not in slots:
                        opt_slots[p] = None      # never emitted: NULL
                        continue
                    opt_slots[p] = _sole_om(slots[p], c.TERM_KINDS)
                    if opt_slots[p] is None:
                        full_slots = None
                        break
        if covers and full_slots is None:
            return None          # a contributor we cannot compile
        contributors.append((tm, full_slots, opt_slots))

    cands = [(tm, slots, opts) for tm, slots, opts in contributors
             if slots is not None]
    if not cands:
        return None              # provably empty is possible here, but
        #                          the evaluator handles it just as well
    spaces = [subject_space(tm) for tm, _s, _o in contributors]
    for i in range(len(spaces)):
        for j in range(i + 1, len(spaces)):
            if not subject_spaces_disjoint(spaces[i], spaces[j]):
                return None      # bindings could straddle TMs / dup triples

    # bindings == rows needs per-row-distinct triples and a trivial
    # subject self-join; a single-pattern DISTINCT projects both away.
    # Type patterns never join across rows (the class triple exists for
    # EVERY row of a subject), so they don't count toward the join.
    # OPTIONAL slots always need it: without unique subjects the left
    # join pairs across rows (see docstring)
    need_unique = bool(specs) or bool(opt_binding) \
        or len({p for p in seen_pats if p[0] != NS.RDF_TYPE}) > 1
    if need_unique:
        for tm, _slots, _opts in cands:
            if not kinds[tm.name].subject_unique(tm):
                return None

    # ---- per-TM binding frames ----------------------------------------
    frames = []
    for tm, slots, opts in cands:
        c = kinds[tm.name]
        df, ctx = c.scan(tm)
        cond = _notnull(c, ctx, tm.subject_map)
        for p in sorted(needed):
            cond = cond & _notnull(c, ctx, slots[p])
        for pred, okind, oval in const_pats:
            oc = _const_obj_cond(c, ctx, slots[pred], okind, oval)
            if oc is None:
                return None
            cond = cond & oc

        def home(v: str):
            if v in absent:
                return True, None    # bound only in a sibling UNION branch
            if v == subj:
                return True, tm.subject_map
            if v in opt_binding:
                return True, opts[opt_binding[v][1]]   # None = absent slot
            return True, slots[var_pred[v]]

        cols = _frame_cols(c, ctx, home, term_vars, specs, computed,
                           nullable)
        frames.append(df.where(cond).select(*cols))

    u = frames[0]
    for f in frames[1:]:
        u = u.unionByName(f)
    return u


def _expand_path(s: tuple, p, o: tuple, out: list, fresh: list) -> bool:
    """SPARQL §18.4 property-path translation for sequence/inverse
    paths over constant IRIs: ``?s p1/p2 ?o`` is DEFINED as
    ``?s p1 ?V . ?V p2 ?o`` with ?V fresh (exact multiset semantics --
    one solution per intermediate; the evaluator's seq join has the
    same bag semantics, _path_pairs joins without dedup), and
    ``?s ^p ?o`` as ``?o p ?s``.  Desugared patterns flow through the
    ordinary builders (the join tree resolves fresh intermediate
    subjects via forced edge-target covers).  Alternatives, closures
    (+ * ?), negated sets and variable predicates return False -- the
    caller keeps the evaluator, whose closure semantics are set-based
    and not row-mirrorable."""
    kind = p[0]
    if kind == "iri":
        out.append((s, p, o))
        return True
    if kind == "inv":
        return _expand_path(o, p[1], s, out, fresh)
    if kind == "seq":
        cur = s
        elts = p[1]
        for i, elt in enumerate(elts):
            if i == len(elts) - 1:
                nxt = o
            else:
                fresh[0] += 1
                nxt = ("var", f"#p{fresh[0]}")
            if isinstance(elt, str):      # bare IRI inside a seq
                elt = ("iri", elt)
            if not _expand_path(cur, elt, nxt, out, fresh):
                return False
            cur = nxt
        return True
    return False


def _extract_bgp(patterns, fresh: list) -> Optional[tuple]:
    """Classify a flat BGP into (groups, obj_binding): per-subject
    pattern groups keyed by subject var, and the object-var edge map.
    Sequence/inverse property paths desugar first (SPARQL's own
    fresh-var definition).  None on any shape the builders cannot
    bound: constant/blank subjects, variable or unsupported-path
    predicates, self-loops, vars bound twice (a value join), non-IRI
    rdf:type objects."""
    pats: list = []
    for tp in patterns:
        if tp.p[0] == "iri":
            pats.append((tp.s, tp.p, tp.o))
        elif not _expand_path(tp.s, tp.p, tp.o, pats, fresh):
            return None

    groups: dict = {}            # subject var -> pattern group
    obj_binding: dict = {}       # object var -> (subject var, pred)
    for ts, tp_p, to in pats:
        tp = TriplePattern(ts, tp_p, to)
        if tp.s[0] != "var" or tp.p[0] != "iri":
            return None
        gv = tp.s[1]
        grp = groups.setdefault(gv, {"var_pred": {}, "const": [],
                                     "types": set(), "pats": set(),
                                     "needed": set()})
        okind, oval = tp.o[0], tp.o[1]
        if tp.p[1] == NS.RDF_TYPE:
            # a constant class is pure TM candidacy (the class triple
            # exists for every row with a subject); var/literal type
            # objects multiply per class / never match -- keep evaluator
            if okind != "iri":
                return None
            grp["types"].add(oval)
            grp["pats"].add((tp.p[1], okind, oval))
            continue
        if okind == "var":
            if oval == gv:
                return None      # self-loop
            if oval in obj_binding \
                    and obj_binding[oval] != (gv, tp.p[1]):
                return None      # var bound twice: a value join
            obj_binding[oval] = (gv, tp.p[1])
            grp["var_pred"][oval] = tp.p[1]
        elif okind in ("iri", "lit", "lit_exact", "num"):
            grp["const"].append((tp.p[1], okind, oval))
        else:
            return None
        grp["needed"].add(tp.p[1])
        grp["pats"].add((tp.p[1], okind, oval))
    return groups, obj_binding


def _try_push(spark: SparkSession, mapping: MappingDocument,
              q: SelectQuery, tier_factory,
              as_subquery: bool = False) -> Optional[DataFrame]:
    """Compile an aggregate/DISTINCT SELECT directly onto the source
    scans when bindings provably equal source rows; None = not provable
    or out of shape -- caller falls back to the full evaluator."""
    # ---- query shape ---------------------------------------------------
    if q.construct is not None or q.is_ask or q.describe:
        return None
    if q.from_graphs or q.from_named:
        return None     # dataset clauses re-scope the graph semantics
    g = q.where
    if g is None:
        return None
    if g.graphs:
        return None

    # ---- UNION: a WHERE that is one pure union of flat BGP branches
    # mirrors the evaluator exactly -- each branch's bindings frame is
    # NULL-padded to the union of columns and bag-unioned (the
    # evaluator does the same in _join_group).  Top-level patterns or
    # optionals BESIDE a union keep the evaluator: its common-column
    # re-join drops NULL keys, a semantics the mirror does not
    # replicate.  Branch filters apply per-branch (as the evaluator's
    # recursive _join_group does); nested pure unions flatten.
    if g.unions:
        if g.patterns or g.optionals or g.subqueries or g.exists \
                or g.minuses or len(g.unions) != 1:
            return None

        bgroups: list = []

        def _flat(b) -> bool:
            if (b.optionals or b.graphs or b.subqueries or b.minuses
                    or b.exists or b.binds or b.values):
                return False
            if b.unions:
                if b.patterns or b.filters or len(b.unions) != 1:
                    return False
                bl, br = b.unions[0]
                return _flat(bl) and _flat(br)
            if not b.patterns:
                return False
            bgroups.append(b)
            return True

        l0, r0 = g.unions[0]
        if not (_flat(l0) and _flat(r0)):
            return None
    else:
        if not g.patterns:
            return None
        bgroups = [g]

    # ---- per-branch pattern extraction --------------------------------
    # sequence/inverse property paths desugar to fresh-var patterns
    # (SPARQL's own definition); other path forms keep the evaluator
    fresh = [0]
    parsed: list = []            # (groups, obj_binding) per branch
    for b in bgroups:
        r = _extract_bgp(b.patterns, fresh)
        if r is None:
            return None
        parsed.append(r)

    # single-branch aliases (the only shape OPTIONAL handling sees;
    # union WHEREs refuse optionals above)
    groups, obj_binding = parsed[0]
    multi = len(parsed) > 1
    all_pat_vars: set = set()
    for gb, ob in parsed:
        all_pat_vars |= set(gb) | set(ob)
    # a var unbound in some branch surfaces as a NULL column there
    union_nullable = {v for v in all_pat_vars
                      if any(v not in set(gb) | set(ob)
                             for gb, ob in parsed)}

    # OPTIONAL: single-pattern groups ``OPTIONAL { ?s <pred> ?fresh }``
    # over an already-bound subject become NULLABLE term columns (the
    # evaluator's left join over a subject-unique pool pairs each row
    # with at most its own optional value).  Anything richer -- nested
    # structure, filters, multi-pattern optionals, constant objects,
    # rdf:type, shared object vars -- keeps the evaluator's left-join
    # semantics the column mirror does not replicate.
    opt_binding: dict = {}       # fresh var -> (subject var, pred)
    for og in g.optionals:
        if (og.optionals or og.unions or og.binds or og.graphs
                or og.subqueries or og.minuses or og.exists
                or og.filters or og.values or len(og.patterns) != 1):
            return None
        tp = og.patterns[0]
        if tp.s[0] != "var" or tp.p[0] != "iri" or tp.o[0] != "var":
            return None
        gv, pred, var = tp.s[1], tp.p[1], tp.o[1]
        if pred == NS.RDF_TYPE:
            return None
        if gv not in groups and gv not in obj_binding:
            return None          # optional subject unbound by the BGP
        if var in groups or var in obj_binding or var in opt_binding \
                or var == gv:
            return None          # var shared with required/another optional
        opt_binding[var] = (gv, pred)

    # ---- subqueries: compile recursively, join on common columns -----
    # The evaluator's _join_group joins `evaluate(sub)` with the outer
    # frame on their common columns (inner, or cross when none); the
    # mirror joins the recursively-pushed sub frame the same way.  Sub
    # projections split statically: aggregate/SELECT-expr aliases are
    # PLAIN columns (computed semantics in the tail), everything else a
    # term column.  Outer aggregates over sub-only term columns refuse
    # (the builders cannot emit their inputs); over plain sub columns
    # they go through the tail's computed path, like the evaluator.
    sub_frames: list = []
    sub_provided: set = set()
    sub_computed: set = set()
    for sub in g.subqueries:
        sdf = _try_push(spark, mapping, sub, tier_factory,
                        as_subquery=True)
        if sdf is None:
            return None          # sub not pushable: keep the evaluator
        aliases = ({a[3] for a in sub.aggregates}
                   | {a for a, _e in sub.select_exprs})
        sub_frames.append(sdf)
        sub_provided |= set(sdf.columns)
        sub_computed |= set(sdf.columns) & aliases
    sub_only = sub_provided - all_pat_vars - set(opt_binding)

    known_vars = all_pat_vars | set(opt_binding) | (sub_only - sub_computed)
    nullable = set(opt_binding) | union_nullable

    # BIND: the evaluator applies binds sequentially AFTER the pattern
    # join, then VALUES, then filters; `_apply_tail` runs the same
    # SparqlEngine._apply_binds (pool-independent for the admitted AST
    # kinds) in that order over the bindings frame.  A bind var that is
    # also pattern-bound becomes the evaluator's where-equality
    # (sequential scope emulation), so it stays a term column; a fresh
    # bind var is a COMPUTED column -- available to filters / keys /
    # aggregates / projection exactly like a pre-expr alias, never
    # term-rendered.
    bind_only: list = []         # fresh aliases introduced by BIND
    bind_term_vars: set = set()  # pattern vars a bind expr/equality reads
    for var, expr in g.binds:
        vs: set = set()
        if not _ast_vars(expr, vs):
            return None
        if not vs <= known_vars | set(bind_only):
            return None          # evaluator fails analysis; keep it
        bind_term_vars |= vs & known_vars
        if var in known_vars:
            bind_term_vars.add(var)   # where-equality needs the term
        elif var not in bind_only:
            bind_only.append(var)
    binds = set(bind_only)

    # ---- FILTER (NOT) EXISTS: distinct-probe semi/anti joins ---------
    # The evaluator compiles the sub group independently and joins it
    # left_semi/left_anti on the common columns over a DISTINCT probe
    # (sparql._exists_join).  The mirror builds the sub pattern through
    # the same frame builders -- SET-exactness suffices because the
    # probe dedupes, so single-pattern subs need no uniqueness proof --
    # and applies the identical join after the tail's filters.  Common
    # vars must be non-nullable on the outer frame (the evaluator
    # NULL-decomposes otherwise) and must not collide with BIND /
    # subquery columns (computed-vs-term join forms differ).
    # MINUS (§8.3.3) joins the same machinery: with every common var
    # bound on both sides (non-null by construction here), "compatible
    # AND shares >=1 bound var" collapses to equality on ALL commons --
    # an anti join; with NO common column the row STAYS (disjoint
    # domains), unlike NOT EXISTS' wholesale probe.  The evaluator
    # applies exists first, then minuses -- mirrored in list order.
    exists_specs: list = []      # (kind, egroups, eobj, common, eg)
    exists_vars_all: set = set()
    probes = [("semi" if pos else "anti", eg) for pos, eg in g.exists] \
        + [("minus", mg) for mg in g.minuses]
    for kind, eg in probes:
        if (eg.optionals or eg.unions or eg.binds or eg.graphs
                or eg.subqueries or eg.minuses or eg.exists
                or eg.values or not eg.patterns):
            return None
        r = _extract_bgp(eg.patterns, fresh)
        if r is None:
            return None
        egroups, eobj = r
        evars = set(egroups) | set(eobj)
        if evars & (binds | sub_provided):
            return None
        common = sorted(evars & (all_pat_vars | set(opt_binding)))
        if any(v in nullable for v in common):
            return None
        for flt in eg.filters:
            fv: set = set()
            if not _ast_vars(flt, fv) or not fv <= evars:
                return None
        if kind == "minus" and not common:
            continue             # no shared domain: every row stays
        exists_vars_all |= evars
        exists_specs.append((kind, egroups, eobj, common, eg))

    # multi-subject BGPs (or a subject bound as an object) route through
    # the join-tree builder
    has_edges = len(groups) > 1 or any(v in groups for v in obj_binding)
    # plain single-group SELECTs keep the existing constraint-pushdown
    # path (already dedup-eliminated + branch-folded); plain JOIN and
    # UNION SELECTs benefit from the scan-level builders
    if not q.aggregates and not q.distinct and not has_edges and not multi \
            and not g.subqueries and not g.exists and not g.minuses \
            and not as_subquery:
        return None
    # branch-local filters: the evaluator applies them inside the branch
    # group over branch bindings -- mirror per-branch, vars branch-bound
    branch_filter_vars: set = set()
    if multi:
        if q.variables == ["*"] or "*" in q.variables:
            return None          # evaluator column order is join-derived
        for b, (gb, ob) in zip(bgroups, parsed):
            bvars = set(gb) | set(ob)
            for flt in b.filters:
                fv: set = set()
                if not _ast_vars(flt, fv) or not fv <= bvars:
                    return None
                branch_filter_vars |= fv

    # VALUES: `_apply_tail` runs the evaluator's own
    # SparqlEngine._apply_values over the term columns.  A single var
    # already on the frame (pattern or BIND) is a term-string membership
    # constraint (UNDEF: none), so its term column must be rendered;
    # every other shape -- multi-var, fresh vars, UNDEF on shared vars
    # -- joins the VALUES rows, fresh vars arriving as term-lexical
    # columns available downstream.  Collisions with BIND/subquery/
    # probe columns refuse (computed-vs-term join forms).
    values_member: set = set()   # single bound vars: membership
    values_joins: list = []      # vars of the joined blocks
    values_provided: set = set()
    for vars_, _rows in g.values:
        if len(vars_) == 1 and vars_[0] in known_vars | binds:
            values_member.add(vars_[0])
        else:
            if any(v in binds | sub_provided | exists_vars_all
                   for v in vars_):
                return None
            values_joins.append(vars_)
            values_provided |= {v for v in vars_
                                if v not in all_pat_vars
                                and v not in opt_binding}
    known_vars |= values_provided

    # filters: evaluator-compiled over the bindings frame; vars must all
    # be pattern-bound and no pool-dependent node may appear
    filter_vars: set = set()
    for flt in g.filters:
        if not _ast_vars(flt, filter_vars):
            return None
    if not filter_vars <= known_vars | binds | sub_computed:
        return None

    # HAVING: the evaluator's hidden-aggregate specs and aliases
    for h in q.having:
        if not _having_ok(h, set(q.group_by), known_vars):
            return None
    specs, agg_alias = aggregate_specs(q)
    visible = [a[3] for a in q.aggregates]
    if q.having and not specs:
        # HAVING with no aggregate reference: the evaluator still takes
        # its aggregate branch (has_aggs counts q.having) -- keep it
        return None

    # SELECT expressions: mirror the evaluator's pre/post-grouping split
    # (pre = group-key aliases on the bindings frame, post = computed
    # over group keys + aggregate aliases), compiled by the borrowed
    # _operand_col -- exact by construction
    has_aggs = bool(specs)
    pre_exprs = [(a, e) for a, e in q.select_exprs
                 if not has_aggs or a in q.group_by]
    post_exprs = [(a, e) for a, e in q.select_exprs
                  if has_aggs and a not in q.group_by]
    pre_aliases: list = []
    pre_vars: set = set()
    for a, e in pre_exprs:
        vs: set = set()
        if not _ast_vars(e, vs):
            return None
        if not vs <= known_vars | binds | set(pre_aliases):
            return None
        pre_vars |= vs & known_vars
        pre_aliases.append(a)
    prealias = set(pre_aliases)
    # computed (non-term) columns of the bindings frame: pre-expr aliases
    # plus fresh BIND vars -- aggregate inputs over them mirror the
    # evaluator's plain-column treatment in _apply_tail
    computed = prealias | binds | sub_computed
    # aggregate inputs the builders never emit -- computed columns plus
    # sub-only TERM columns, both present on the frame by aggregation
    # time (the tail computes their #a inputs with the term-correct
    # numeric_value/lexical_value forms, same as the evaluator)
    agg_late = computed | sub_only | values_provided

    for func, var, _d, _a, _s in specs:
        if func not in _AGG_FUNCS:
            return None
        if var is None and func != "COUNT":
            return None
        if var is not None and (not isinstance(var, str)
                                or var not in known_vars | computed):
            # expression aggregate inputs (COUNT(COALESCE(...)),
            # GROUP_CONCAT(CONCAT(?a,?b)), ...) arrive as AST lists —
            # not pushable, and unhashable in the membership test
            return None

    # variables that must surface as rendered term columns in the
    # bindings frame (projection keys, term-form aggregate inputs,
    # filter references), and the final projection
    term_vars: list = []

    def need_term(v: str):
        # sub-only / fresh-VALUES columns exist after their joins --
        # never rendered by the pattern builders
        if v not in term_vars and v not in sub_only \
                and v not in values_provided:
            term_vars.append(v)

    for vars_ in values_joins:
        for v in vars_:          # VALUES join keys on the outer frame
            need_term(v)

    # subquery join keys must surface on the outer frame
    for sdf in sub_frames:
        for v in set(sdf.columns) & (all_pat_vars | set(opt_binding)):
            need_term(v)

    if specs:
        if not set(q.group_by) <= known_vars | computed:
            return None
        for v in q.group_by:
            if v in known_vars:
                need_term(v)
        for func, var, dist, _a, _s in specs:
            if var in known_vars and (func in ("SAMPLE", "GROUP_CONCAT")
                                      or (func == "COUNT" and dist)):
                need_term(var)
        for a, e in post_exprs:
            vs = set()
            if not _ast_vars(e, vs):
                return None
            avail = (set(q.group_by) | {s[3] for s in specs}
                     | {x for x, _e in post_exprs})
            if not vs <= avail:
                return None
        proj = list(dict.fromkeys(
            [v for v in q.variables if v != "*"] + q.group_by + visible))
        if not proj:
            return None          # evaluator raises; keep its behavior
    else:
        if q.variables and q.variables != ["*"]:
            if len(set(q.variables)) != len(q.variables):
                return None      # duplicate projection: keep evaluator
            if not set(q.variables) <= known_vars | computed:
                return None
            proj = list(q.variables)
        else:
            if sub_frames or values_joins:
                return None      # * over a subquery/VALUES join:
                #                  column order is evaluator-defined
            proj = list(dict.fromkeys(list(groups) + list(obj_binding)
                                      + list(opt_binding)
                                      + pre_aliases + bind_only))
        for v in proj:
            if v not in computed:
                need_term(v)
    # sorted: term_vars is the frame's column order, the same in every
    # process whatever the string-hash seed
    for v in sorted(filter_vars | pre_vars | bind_term_vars
                    | branch_filter_vars | values_member):
        if v in known_vars:
            need_term(v)
    for _pos, _eg1, _eo1, common, _eg2 in exists_specs:
        for v in common:         # probe join keys on the outer frame
            need_term(v)

    # ORDER BY: the tail runs the evaluator's _slice_solutions;
    # expression keys may only reference projected columns (same
    # analysis scope as the evaluator)
    for v, _asc in q.order_by:
        if not isinstance(v, str):
            ovars: set = set()
            if not _ast_vars(v, ovars) or not ovars <= set(proj):
                return None

    # ---- mapping-side proof -------------------------------------------
    tier = tier_factory()
    frames = []
    beng = None
    for b, (gb, ob) in zip(bgroups, parsed):
        bvars = set(gb) | set(ob)
        absent = frozenset(all_pat_vars - bvars)
        u_b = _bindings_frame(tier, mapping, gb, ob, opt_binding,
                              term_vars, specs, agg_late, absent, nullable)
        if u_b is None:
            return None
        if multi:
            if b.filters:
                if beng is None:
                    beng = _expr_engine(spark)
                for flt in b.filters:
                    u_b = u_b.where(beng._filter_col(flt, u_b))
            # normalize to the shared column set (the join builder's
            # frames carry raw edge-key columns the union must drop)
            emitted = [f"#a{i}" for i, (fn_, v_, d_, _a, _s)
                       in enumerate(specs)
                       if _emits_input(fn_, v_, d_, agg_late, nullable)]
            u_b = u_b.select(*term_vars, *emitted)
        frames.append(u_b)
    u = frames[0]
    for f_ in frames[1:]:
        u = u.unionByName(f_)

    # subquery joins on common columns (the evaluator's _join_group)
    for sdf in sub_frames:
        common = [c for c in sdf.columns if c in u.columns]
        u = u.join(sdf, common) if common else u.crossJoin(sdf)

    # EXISTS/MINUS probe frames: same builders, set-exactness, no specs
    exists_joins: list = []
    for kind, egroups, eobj, common, eg in exists_specs:
        e_tvars = list(common)   # probe keys + the sub's filter vars
        for flt in eg.filters:
            fv2: set = set()
            _ast_vars(flt, fv2)
            e_tvars.extend(v for v in sorted(fv2) if v not in e_tvars)
        e_f = _bindings_frame(tier, mapping, egroups, eobj, {}, e_tvars,
                              [], set())
        if e_f is None:
            return None
        if eg.filters:
            if beng is None:
                beng = _expr_engine(spark)
            for flt in eg.filters:
                e_f = e_f.where(beng._filter_col(flt, e_f))
        exists_joins.append((kind, e_f, list(common)))

    return _apply_tail(spark, q, u, g, pre_exprs, post_exprs, specs,
                       agg_late, nullable, agg_alias, proj, exists_joins)


def _apply_tail(spark, q, u, g, pre_exprs, post_exprs, specs, computed,
                nullable, agg_alias, proj, exists_joins=()) -> DataFrame:
    """The evaluator's SELECT tail over the bindings frame, in its
    order: BINDs, VALUES, filters, EXISTS probe joins, pre-exprs,
    aggregation + HAVING + post-exprs, projection, DISTINCT, ORDER BY,
    OFFSET/LIMIT.  BIND, VALUES, HAVING and the ORDER BY/OFFSET/LIMIT
    slice are the evaluator's own SparqlEngine methods (_apply_binds,
    _apply_values, _apply_having, _slice_solutions), and filters and
    expressions its own compiler; only aggregation is built here, over
    the frame's ``#a{i}`` inputs.  The expression engine is built only
    when one of them compiles an expression."""
    eng = None
    if g.binds or g.filters or q.having or q.select_exprs \
            or any(not isinstance(v, str) for v, _a in q.order_by):
        eng = _expr_engine(spark)
    if g.binds:
        u = eng._apply_binds(u, g.binds)
    u = SparqlEngine._apply_values(u, g.values)
    for flt in g.filters:
        u = u.where(eng._filter_col(flt, u))
    # EXISTS/NOT EXISTS/MINUS: sparql._exists_join's join for a frame
    # whose common columns are all bound (the analysis refuses nullable
    # ones) -- distinct probe, left_semi/left_anti on them; with
    # no common column EXISTS' inner (non)emptiness decides wholesale
    # (common-less MINUS entries were dropped upstream: rows stay)
    for kind, e_f, common in exists_joins:
        if common:
            probe = e_f.select(*common).distinct()
            u = u.join(probe, common,
                       "left_semi" if kind == "semi" else "left_anti")
        elif (kind == "semi") == e_f.isEmpty():
            u = u.limit(0)
    for a, e in pre_exprs:
        u = u.withColumn(a, eng._operand_col(e))
    for i, (func, var, dist, _alias, _sep) in enumerate(specs):
        # aggregate inputs over pre-expr aliases / fresh BIND vars: the
        # evaluator applies fn over the PLAIN computed column -- mirror
        # on the same column
        if var not in computed:
            continue
        col = F.col(var)
        if dist and func in ("SUM", "AVG"):
            u = u.withColumn(f"#a{i}", col)
        elif func in ("SUM", "AVG", "MIN", "MAX"):
            u = u.withColumn(f"#a{i}", numeric_value(col))
        elif func == "GROUP_CONCAT":
            u = u.withColumn(f"#a{i}", lexical_value(col))
        else:                    # COUNT (DISTINCT) / SAMPLE
            u = u.withColumn(f"#a{i}", col)

    # ---- aggregate / distinct + the evaluator's SELECT tail -----------
    if specs:
        aggs = []
        for i, (func, var, dist, alias, sep) in enumerate(specs):
            col = F.col(f"#a{i}")
            if func == "COUNT":
                if dist and var is not None:
                    agg = F.count_distinct(col)
                elif var in computed or var in nullable:
                    # computed / optional columns may be NULL: count
                    # non-nulls (the evaluator's F.count(col))
                    agg = F.count(col)
                else:
                    # pattern bindings are never NULL here: count rows
                    agg = F.count(F.lit(1))
                aggs.append(agg.alias(alias))
            elif func == "GROUP_CONCAT":
                coll = F.collect_set(col) if dist else F.collect_list(col)
                aggs.append(F.array_join(F.sort_array(coll), sep)
                            .alias(alias))
            elif func == "SAMPLE":
                aggs.append(F.min(col).alias(alias))
            elif dist and func in ("SUM", "AVG"):
                aggs.append(distinct_numeric_agg(col, func).alias(alias))
            else:
                fn = {"SUM": F.sum, "AVG": F.avg, "MIN": F.min,
                      "MAX": F.max}[func]
                aggs.append(fn(col).alias(alias))
        out = u.groupBy(*q.group_by).agg(*aggs) if q.group_by \
            else u.agg(*aggs)

        if q.having:
            out = eng._apply_having(out, q.having, agg_alias)
        for a, e in post_exprs:
            out = out.withColumn(a, eng._operand_col(e))
        out = out.select(*proj)
    else:
        out = u.select(*proj)
    if q.distinct:
        out = out.distinct()
    # eng is None only when every ORDER BY key is a plain variable
    return SparqlEngine._slice_solutions(eng, out, q)
