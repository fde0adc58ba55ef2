"""Source-level pushdown for SPARQL answering — the cheap analogue of
the reference's query-rewriting mode.

The reference translates a SPARQL pattern's constants into conditions on
the underlying database query (genCond,
MorphBaseQueryTranslator.scala:227-305; JsonPathToMongoTranslator
R0-R9).  The materialize-then-query design replaces the rewriters with
the DataFrame SPARQL evaluator, but a selective point query should not
scan every source first.  This module closes that gap:

1. constant subject IRIs (directly, via FILTER(?s = <iri>), OR'd
   equality disjunctions, or VALUES columns) invert through each triples
   map's subject template into equality constraints on the source
   columns / document fields;
2. constant objects invert too: IRIs through object templates and
   referencing-object-map parent keys (transferring to the child's join
   reference), literals and numeric comparison FILTERs through
   column/reference object maps into typed value predicates (r5);
3. a TM that cannot produce any required constant — and that no
   unconstrained pattern can touch — is eliminated from the plan
   entirely; patterns sharing a subject variable propagate their
   constraints across each other (candidacy pruning under disjoint
   subject spaces, AND-strengthening under provably-unique subjects —
   the reference's bind_m reduction, r5);
4. the surviving constraints become native `.where` predicates on the
   native-tier scans (pushed to parquet as PushedFilters) or compose into
   the mapping's `find()` filter for document sources (internal
   `$lexIn` / `$renderIn` / `$numCmp` operators, natively compilable) --
   `constrained_plan`, applied by `api.answer_auto`'s routed plan.

Soundness: the derived filters only PRUNE source rows that provably
cannot generate any pattern-matching triple; the SPARQL evaluator then
re-applies the exact constants on the restricted triple set, so
ambiguous inversions (a captured value containing a template separator,
a percent-encoded value, an empty capture, a non-default render
config) simply fall back to "unconstrained" rather than risk dropping
rows.  Closure property paths (`+ * ?`) never constrain — they walk
intermediate nodes — but the FIRST hop of a sequence path with a
constant subject does (it is anchored there).  The differential
harness (tests/test_pushdown_differential.py) asserts rewritten ==
full-scan across the feature matrix.
"""

from __future__ import annotations

import copy
import json
import re
from typing import Optional, Union

from pyspark.sql import SparkSession

from . import namespaces as NS
from .functions.encoding import encode_literal
from .functions.templates import get_template_groups
from .model import (COLUMN, CONSTANT, REFERENCE, TEMPLATE, MappingDocument,
                    TermMap, TriplesMap, parse_mongo_query, pred_slots,
                    tm_pred_iris)
from .native import (subject_renders_unique, subject_renders_unique_schemaless,
                     subject_space, subject_spaces_disjoint)
from .sparql import Group, SelectQuery, SparqlEngine, parse_sparql

# sentinel: inversion failed in a way that must disable pushdown for the
# pattern (ambiguous parse / encoded value) — full scan, still correct
AMBIGUOUS = object()


# ---------------------------------------------------------------------------
# Template inversion
# ---------------------------------------------------------------------------

def invert_template(template: str, value: str):
    """Match ``value`` against the template; return {group: captured}
    when the inversion is exact, None when the value cannot be produced,
    AMBIGUOUS when it matches but the parse may not be unique (captured
    value contains a fixed separator / '%' escape / empty capture)."""
    groups = get_template_groups(template)
    if not groups:
        return {} if template == value else None
    pat = "^"
    fixed_parts = []
    rest = template
    for i, g in enumerate(groups):
        fixed, _, rest = rest.partition("{" + g + "}")
        fixed_parts.append(fixed)
        pat += re.escape(fixed) + f"(?P<g{i}>.*?)"
    fixed_parts.append(rest)
    pat += re.escape(rest) + "$"
    m = re.match(pat, value)
    if not m:
        return None
    seps = [p for p in fixed_parts[1:] if p]   # separators after groups
    out = {}
    for i, g in enumerate(groups):
        v = m.group(f"g{i}")
        if v == "" or "%" in v:
            return AMBIGUOUS
        if any(s in v for s in seps):
            return AMBIGUOUS
        out[g] = v
    return out


def template_literal_may_render(template: str, lex: str) -> bool:
    """False when no row renders ``lex`` as a literal of this template.
    The render is encode_literal of the expanded value, trimmed first
    when literal_trim is on.  A fixed head (tail) that starts (ends)
    with no whitespace and holds no quote reads the same under every
    render setting, and its rstripped (lstripped) encoding stays a
    prefix (suffix) of the encoded whole."""
    groups = get_template_groups(template)
    head = template.partition("{" + groups[0] + "}")[0] if groups \
        else template
    tail = template.rpartition("{" + groups[-1] + "}")[2] if groups \
        else template
    if head[:1] and not head[:1].isspace() and '"' not in head and \
            not lex.startswith(encode_literal(head.rstrip())):
        return False
    if tail[-1:] and not tail[-1:].isspace() and '"' not in tail and \
            not lex.endswith(encode_literal(tail.lstrip())):
        return False
    return True


def invert_iri_map(m: TermMap, iri: str):
    """Constant IRI vs one IRI-rendering term map (subject, object or
    graph position) → source-level equality dict, or None (the map
    cannot render it) / AMBIGUOUS (it may, but no safe row constraint
    derives)."""
    if m.kind == CONSTANT:
        if m.constant is not None and m.constant[0] == "iri" \
                and m.constant[1] == iri:
            return AMBIGUOUS        # matches every row: no row constraint
        return None
    if m.kind == COLUMN:
        if "%" in iri:
            # a %-escaped IRI may come from a DECODED stored value (the
            # render percent-encodes reserved chars) — raw equality
            # would wrongly prune it
            return AMBIGUOUS
        # the render strips the column value (createIRI trim) — the
        # mirror must compare the STRIPPED column, not the raw one
        return {m.column: ("irieq", iri)}
    if m.kind == TEMPLATE:
        return invert_template(m.template, iri)
    return AMBIGUOUS                # reference/dynamic map: full scan


def invert_subject(tm: TriplesMap, iri: str):
    """Constant subject IRI → source-level equality dict for this TM, or
    None (TM cannot produce it) / AMBIGUOUS (cannot safely push)."""
    if tm.subject_map.infer_term_type() != NS.RR_IRI:
        return None                 # IRI pattern can't match bnode subjects
    return invert_iri_map(tm.subject_map, iri)


def invert_object(mapping: MappingDocument, tm: TriplesMap,
                  pred_iri: str, obj_iri: str):
    """Constant (pred, object-IRI) → source-level equality dict for this
    TM (the reference's genCond on the object reference,
    MorphBaseQueryTranslator.scala:227-305).  None = no term map with
    this predicate can produce the object (the pattern cannot match this
    TM); AMBIGUOUS = it may match but no safe constraint derives.  For a
    referencing object map whose parent subject is keyed by the single
    join column, the parent-template inversion transfers to the CHILD's
    join reference — a `?x ex:placedBy <customer/5>` point query becomes
    `o_custkey = 5` on the child scan."""
    candidates = []
    if pred_iri == NS.RDF_TYPE and obj_iri in tm.class_uris:
        # rr:class emits the type for every row: no row constraint, but
        # the TM definitely matches.  Do NOT return early — rdf:type can
        # also be emitted by an explicit predicate-object map (legal
        # R2RML), which the POM scan below handles like any predicate.
        candidates.append(AMBIGUOUS)
    slots = pred_slots(tm)
    if slots is None:
        return AMBIGUOUS            # dynamic predicate: can't reason
    oms, roms = slots.get(pred_iri, ((), ()))
    for om in oms:
        if om.infer_term_type() != NS.RR_IRI:
            continue                # literal/bnode object ≠ IRI pattern
        inv = invert_iri_map(om, obj_iri)
        if inv is not None:
            candidates.append(inv)
    for rom in roms:
        parent = mapping.triples_maps[rom.parent_tm]
        inv = invert_subject(parent, obj_iri)
        if inv is None:
            continue                # parent can't produce the object
        if inv is AMBIGUOUS or len(rom.join_conditions) != 1:
            candidates.append(AMBIGUOUS)
            continue
        jc = rom.join_conditions[0]
        if set(inv) == {jc.parent_ref}:
            candidates.append({jc.child_ref: inv[jc.parent_ref]})
        else:
            candidates.append(AMBIGUOUS)
    return _merge_candidates(candidates)


def _merge_candidates(candidates):
    """One producer's constraint; None when nothing produces the term,
    AMBIGUOUS for several producers (no single conjunction) or one
    without a row constraint."""
    if not candidates:
        return None
    if len(candidates) == 1 and candidates[0] is not AMBIGUOUS:
        return candidates[0]
    return AMBIGUOUS


# ---------------------------------------------------------------------------
# Graph-position inversion (R2RML quad semantics)
# ---------------------------------------------------------------------------

def _graph_map_cats(tm: TriplesMap, preds: Optional[set]) -> list[list]:
    """Graph-map lists for each triple category the pattern's predicate
    set can match: the class triples carry the subject graphs, each POM
    carries subject ∪ POM graphs (R2RML §9 target-graph union; reference
    emission MorphRDBDataTranslator.scala:95-178).  An empty list means
    that category lands in the DEFAULT graph."""
    cats: list[list] = []
    if tm.class_uris and (preds is None or NS.RDF_TYPE in preds):
        cats.append(list(tm.graph_maps))
    for pom in tm.predicate_object_maps:
        iris = pom.pred_iris()
        if preds is not None and iris is not None \
                and preds.isdisjoint(iris):
            continue
        cats.append(list(tm.graph_maps) + list(pom.graph_maps))
    return cats


def invert_graph_ctx(tm: TriplesMap, preds: Optional[set], gctx):
    """Graph-context candidacy + constraint for one pattern against one
    TM.  ``gctx`` is ("default",) for patterns outside GRAPH (match only
    the default graph), ("any",) for GRAPH ?var (match any NAMED graph),
    or ("iri", g).  Returns None (the TM provably emits no triple in
    this graph context), AMBIGUOUS (matches, no row constraint), or a
    source-equality conj from inverting the one graph map that can
    render the constant graph."""
    cats = _graph_map_cats(tm, preds)
    if not cats:
        return None                  # no matching triple category at all
    if gctx[0] == "none":
        return None                  # dataset clause emptied this side
    if gctx[0] == "default":
        # a category with NO graph maps emits to the default graph; a
        # category whose graph maps are all NON-CONSTANT can ALSO fall
        # back to the default graph at runtime (every render NULL drops
        # to the default graph in all three compilers), so only prune
        # when every category carries at least one CONSTANT graph map
        # (constants never render NULL)
        for c in cats:
            if not c:
                return AMBIGUOUS
            if not any(gm.kind == CONSTANT and gm.constant is not None
                       for gm in c):
                return AMBIGUOUS     # all-null renders → default graph
        return None
    if gctx[0] == "any":
        return AMBIGUOUS if any(c for c in cats) else None
    # constant graph(s): ("iri", g) or ("anyof", (g1, g2, ...)) from a
    # FROM / FROM NAMED dataset clause (OR across the listed graphs)
    targets = (gctx[1],) if gctx[0] == "iri" else tuple(gctx[1])
    candidates: list = []
    seen: set = set()
    for g in targets:
        for cat in cats:
            for gm in cat:
                inv = invert_iri_map(gm, g)
                if inv is None:
                    continue
                key = "ambiguous" if inv is AMBIGUOUS \
                    else frozenset(inv.items())
                if key in seen:
                    continue         # the subject graphs repeat per POM
                seen.add(key)
                candidates.append(inv)
    return _merge_candidates(candidates)


_LIT_TERM_RE = re.compile(
    r'^"(.*)"(@[A-Za-z][A-Za-z0-9-]*|\^\^<[^<>]*>)?$', re.S)


def _literal_oms(tm: TriplesMap, pred_iri: str):
    """Literal-rendering object maps under a constant predicate, or None
    when a predicate map is dynamic.  ROM / IRI / bnode object maps never
    render literals and are excluded."""
    slots = pred_slots(tm)
    if slots is None:
        return None
    return [om for om in slots.get(pred_iri, ((), ()))[0]
            if om.infer_term_type() == NS.RR_LITERAL]


def invert_object_literal(mapping: MappingDocument, tm: TriplesMap,
                          pred_iri: str, o_term):
    """Constant (pred, literal) → source-level constraint (the
    reference's genCond on literal references,
    MorphBaseQueryTranslator.scala:227-305).  None = no object map under
    this predicate can render a literal matching the term — the pattern
    cannot match this TM; AMBIGUOUS = may match, no safe constraint.

    Datatype compatibility uses only mapping-level facts (rr:datatype /
    rr:language): a column's NATURAL datatype needs the schema, so such
    object maps stay candidates (superset, sound) — the evaluator
    re-applies the exact term match.  Constraint values:
      ('lexeq', lex)           rendered-literal lexical equality
      ('cmp', [(op, num),...]) numeric value predicates"""
    kind, raw = o_term
    if kind == "num":
        # value equality, the same predicate as FILTER(?o = n)
        return invert_object_compare(mapping, tm, pred_iri, "=", raw)
    oms = _literal_oms(tm, pred_iri)
    if oms is None:
        return AMBIGUOUS            # dynamic predicate: can't reason
    m = _LIT_TERM_RE.match(raw)
    if not m:
        return AMBIGUOUS
    lex, suffix = m.group(1), m.group(2)
    if "\\" in lex:
        return AMBIGUOUS            # N-Triples escapes: raw value differs
    candidates = []
    for om in oms:
        if kind == "lit_exact":
            # exact term: the rendered suffix must match exactly
            if suffix and suffix.startswith("@"):
                if om.language != suffix[1:]:
                    continue
            elif suffix:            # ^^<dt>
                if om.language is not None:
                    continue
                if om.datatype is not None and \
                        f"^^<{om.datatype}>" != suffix:
                    continue
                if om.datatype is None and om.kind not in (COLUMN,
                                                           REFERENCE):
                    continue        # template/constant w/o dt render
                    # plain; COLUMN/REFERENCE may infer a natural
                    # datatype (schema / JSON value) — keep as candidate
            else:                   # plain literal, exactly
                if om.language is not None:
                    continue
                if om.datatype is not None:
                    continue
        # kind == 'lit': the engine prefix-matches '"lex"' — any
        # datatype/lang suffix is acceptable, only the lexical binds
        if om.kind in (COLUMN, REFERENCE):
            if om.datatype in (NS.XSD_DATETIME, NS.XSD_BOOLEAN):
                # normalize_datetime/boolean rewrite the lexical AFTER
                # encoding — the render mirror would diverge
                candidates.append(AMBIGUOUS)
            else:
                candidates.append({om.column or om.reference:
                                   ("lexeq", lex)})
        elif om.kind == TEMPLATE:
            # the render trims and encodes the whole expanded value
            # (createLiteral), which no raw group equality inverts — no
            # row constraint, but fixed ends that cannot render the
            # lexical rule the TM out
            if om.datatype in (NS.XSD_DATETIME, NS.XSD_BOOLEAN) or \
                    template_literal_may_render(om.template, lex):
                candidates.append(AMBIGUOUS)
        else:
            # constant literal: may match every row — no row constraint
            candidates.append(AMBIGUOUS)
    return _merge_candidates(candidates)


def invert_object_lexpat(mapping: MappingDocument, tm: TriplesMap,
                         pred_iri: str, kind: str, pat: str):
    """STRSTARTS/STRENDS/CONTAINS on an object var → rendered-lexical
    pattern predicate on string-column object maps.  Any other object
    map (IRI, template, constant, reference, ROM) could still satisfy
    the builtin via STR(), so their presence makes the result AMBIGUOUS
    rather than a constraint; None only when the predicate has no object
    maps at all."""
    if any(c in pat for c in '"\\'):
        return AMBIGUOUS            # escaped lexicals: mirror diverges
    if pred_iri == NS.RDF_TYPE and tm.class_uris:
        return AMBIGUOUS            # class IRIs could satisfy via STR()
    slots = pred_slots(tm)
    if slots is None:
        return AMBIGUOUS
    oms, roms = slots.get(pred_iri, ((), ()))
    candidates = [AMBIGUOUS] * len(roms)
    for om in oms:
        if om.kind in (COLUMN, REFERENCE) \
                and om.infer_term_type() == NS.RR_LITERAL \
                and om.datatype not in (NS.XSD_DATETIME, NS.XSD_BOOLEAN):
            # rendered-lexical pattern on the column, or on the field as
            # the internal $renderPat find() operator; dateTime/boolean
            # normalizers rewrite the lexical post-encode, so those stay
            # AMBIGUOUS
            candidates.append({om.column or om.reference:
                               ("lexpat", kind, pat)})
        else:
            candidates.append(AMBIGUOUS)
    return _merge_candidates(candidates)


_RE_META = set(".[]{}()*+?^$|")


def _regex_lexpats(pat: str) -> list:
    """Mandatory-literal constraint implied by a SPARQL regex pattern
    (``rlike`` = unanchored Java ``find()``): ``^lit...`` means every
    match starts with ``lit``, ``lit$`` that it ends with it, a leading
    literal run that it contains it.  Superset semantics only — the
    evaluator still runs the full regex; this merely feeds the sound
    lexpat inversion.  Conservative bails: alternation / groups / inline
    flags / ``\\Q`` quoting anywhere → no constraint; a quantifier that
    can erase the preceding atom (``* ? {``) drops that atom from the
    literal (``+`` keeps it: at least one occurrence is mandatory)."""
    if "|" in pat or "(" in pat or "\\Q" in pat:
        return []
    anchored = pat.startswith("^")
    body = pat[1:] if anchored else pat
    lit: list = []
    i = 0
    while i < len(body):
        c = body[i]
        if c == "\\":
            nxt = body[i + 1] if i + 1 < len(body) else ""
            if nxt and not nxt.isalnum():
                lit.append(nxt)         # escaped punctuation: literal char
                i += 2
                continue
            break                       # metaclass (\d, \w, \n, ...): stop
        if c in _RE_META:
            if c in "*?{" and lit:
                lit.pop()               # preceding atom became optional
            break
        lit.append(c)
        i += 1
    if not lit:
        return []
    s = "".join(lit)
    if anchored:
        return [("strstarts", s)]
    if i == len(body) - 1 and body[i] == "$":
        return [("strends", s)]         # fully-literal body before '$'
    return [("contains", s)]


_RDF_LANGSTRING = "http://www.w3.org/1999/02/22-rdf-syntax-ns#langString"


def _subject_satisfies_typereq(tm: TriplesMap, req) -> bool:
    """Type-facet FILTER on a variable bound in SUBJECT position.
    Subjects are IRIs or blank nodes, so LANG()/datatype() facets can
    never hold (the evaluator yields NULL → filter false) and the term
    type is a compile-time constant of the subject map."""
    kind_, arg = req
    if kind_ != "termtype":
        return False
    tt = tm.subject_map.infer_term_type()
    if tt == NS.RR_IRI:
        return arg == "iri"
    if tt == NS.RR_BLANKNODE:
        return arg == "blank"           # (isNumeric of IRI/BNode is false)
    return True                         # exotic term types: unknown, keep


def invert_object_typereq(mapping: MappingDocument, tm: TriplesMap,
                          pred_iri: str, req):
    """Type-facet FILTERs on an object variable — ``isIRI/isLiteral/
    isBlank``, ``LANG(?o) = t`` / ``langMatches(LANG(?o), r)``,
    ``datatype(?o) = dt`` — decide TM candidacy: ``None`` when NO object
    produced under the predicate can satisfy the facet (the TM is
    eliminated for this pattern), ``{}`` otherwise.  Facets are per-
    term-map constants (rr:language, rr:datatype, term type), so there
    is never a row constraint; the reference applies the same per-term-
    map compatibility checks when binding triple patterns to candidate
    term maps (MorphBaseTriplePatternBinder compatibility conditions).
    Always a superset: unknown facets — dynamic language references,
    natural datatypes without schema, constant terms with embedded
    tags, dynamic predicates — count as satisfiable."""
    kind_, arg = req

    def om_ok(om) -> bool:
        tt = om.infer_term_type()
        if om.kind == CONSTANT and om.constant is not None:
            ck = om.constant[0]
            if ck == "iri":
                tt = NS.RR_IRI
            elif ck in _LIT_KINDS or ck.startswith("lit"):
                tt = NS.RR_LITERAL
            elif kind_ == "termtype":
                return True             # unrecognised constant form
        if tt not in (NS.RR_IRI, NS.RR_LITERAL, NS.RR_BLANKNODE):
            return True                 # collection/container shapes
        if kind_ == "termtype":
            if arg == "numeric":
                # lenient: any literal kept (the evaluator accepts plain
                # literals whose lexical casts); IRI/BNode never numeric
                return tt == NS.RR_LITERAL
            want = {"iri": NS.RR_IRI, "literal": NS.RR_LITERAL,
                    "blank": NS.RR_BLANKNODE}[arg]
            return tt == want
        # lang/datatype facets only ever hold on literals
        if tt != NS.RR_LITERAL:
            return False
        if om.kind == CONSTANT:
            return True                 # tag/datatype embedded in the term
        if om.language_ref is not None:
            return True                 # tag comes from the data: unknown
        if kind_ == "lang":             # LANG(?o) = "tag"; case-insensitive
            if arg == "":               # acceptance is a superset of both
                return om.language is None   # tag-normalisation conventions
            return om.language is not None \
                and om.language.lower() == arg.lower()
        if kind_ == "langmatch":
            if om.language is None:
                return False            # LANG() = "" matches no range
            if arg == "*":
                return True
            low = om.language.lower()
            return low == arg.lower() or low.startswith(arg.lower() + "-")
        if kind_ == "dtype":
            if om.language is not None:
                return arg == _RDF_LANGSTRING
            if om.datatype is not None:
                return om.datatype == arg
            if om.kind in (COLUMN, REFERENCE):
                return True             # natural datatype: schema-dependent
            return arg == NS.XSD_STRING  # plain template literal
        return True

    found = False
    satisfiable = False
    if pred_iri == NS.RDF_TYPE and tm.class_uris:
        found = True                    # class IRIs: plain IRI objects
        if kind_ == "termtype":
            satisfiable = satisfiable or arg == "iri"
    slots = pred_slots(tm)
    if slots is None:
        return {}                       # dynamic predicate: can't enumerate
    oms, roms = slots.get(pred_iri, ((), ()))
    for om in oms:
        found = True
        satisfiable = satisfiable or om_ok(om)
    for rom in roms:
        found = True
        parent = mapping.triples_maps.get(rom.parent_tm)
        if parent is None:
            satisfiable = True          # unresolvable parent: unknown
        elif kind_ == "termtype":
            ptt = parent.subject_map.infer_term_type()
            satisfiable = satisfiable \
                or (ptt == NS.RR_IRI and arg == "iri") \
                or (ptt == NS.RR_BLANKNODE and arg == "blank") \
                or ptt not in (NS.RR_IRI, NS.RR_BLANKNODE)
        # lang/datatype facets never hold on parent subjects (IRI/BNode)
    if not found:
        return None
    return {} if satisfiable else None


def invert_object_compare(mapping: MappingDocument, tm: TriplesMap,
                          pred_iri: str, op: str, num_lex: str):
    """Numeric comparison FILTER on a var bound in object position →
    source predicate (the reference pushes SPARQL FILTER comparisons into
    the WHERE clause, MorphRDBQueryTranslator.scala:988+).  None = no
    object map under the predicate can ever satisfy a numeric comparison
    (IRI/ROM objects evaluate to error→false); AMBIGUOUS = possible but
    not safely pushable."""
    oms = _literal_oms(tm, pred_iri)
    if oms is None:
        return AMBIGUOUS
    candidates = []
    for om in oms:
        if om.kind == COLUMN:
            candidates.append({om.column: ("cmp", ((op, num_lex),))})
        elif om.kind == REFERENCE and not om.language:
            candidates.append({om.reference: ("cmp", ((op, num_lex),))})
        else:
            candidates.append(AMBIGUOUS)   # could render numeric lexicals
    return _merge_candidates(candidates)


def _conj_merge(conj: dict, add: dict) -> bool:
    """Merge ``add`` into ``conj``; False = PROVABLY unsatisfiable.
    Comparison tuples on the same reference AND together; a comparison
    meeting an equality is dropped (weaker constraint stays: sound).
    Unsatisfiability is only declared for two DIFFERING constraints of
    the same equality kind (two raw equalities, or two lexeq renders —
    a row value renders exactly one lexical) on a SINGLE-VALUED
    reference: a wildcard/filter JSONPath ('$.xs.*', ...) yields one
    value per matched element, so two different captures can coexist in
    one document (r6 — cartesian multi-valued templates).  Any other
    mixed pair (lexpat vs lexeq, raw vs lexeq, ...) could hold
    simultaneously, so the existing constraint is kept and the new one
    dropped (superset, sound)."""
    for k, v in add.items():
        if k not in conj:
            conj[k] = v
            continue
        cur = conj[k]
        if cur == v:
            continue
        cur_cmp = isinstance(cur, tuple) and cur[0] == "cmp"
        new_cmp = isinstance(v, tuple) and v[0] == "cmp"
        multi_valued = any(ch in k for ch in "*[]()@")
        if cur_cmp and new_cmp:
            conj[k] = ("cmp", tuple(cur[1]) + tuple(v[1]))
        elif cur_cmp:
            conj[k] = v             # equality is stronger; cmp re-checked
        elif new_cmp:
            pass                    # keep the equality
        elif multi_valued:
            pass                    # per-element values: keep cur, drop v
        elif isinstance(cur, str) and isinstance(v, str):
            return False            # two different raw equalities: no row
        elif isinstance(cur, tuple) and isinstance(v, tuple) \
                and cur[0] == v[0] and cur[0] in ("lexeq", "irieq"):
            return False            # one render, two lexicals: no row
        # mixed kinds (lexpat vs eq, ...): keep cur, drop v — sound
    return True


# ---------------------------------------------------------------------------
# Pattern collection
# ---------------------------------------------------------------------------

def _path_iris(pred) -> Optional[set]:
    """IRIs mentioned by a property-path AST; None = unknowable (negated
    set ⇒ any predicate)."""
    kind = pred[0]
    if kind == "iri":
        return {pred[1]}
    if kind == "var":
        return None
    if kind == "negset":
        return None
    if kind == "inv":
        return (_path_iris(pred[1]) if isinstance(pred[1], tuple)
                else {pred[1]})
    if kind == "plus":
        inner = pred[1]
        return _path_iris(inner) if isinstance(inner, tuple) else {inner}
    if kind in ("star", "opt"):
        # zero-length paths match every graph node with itself — a TM
        # emitting none of the inner predicates still contributes NODES
        # to those identity matches, so the predicate set is unknowable
        return None
    if kind in ("seq", "alt"):
        out: set = set()
        for elt in pred[1]:
            sub = _path_iris(elt)
            if sub is None:
                return None
            out |= sub
        return out
    return None


def _pattern_text(tp) -> str:
    """A triple pattern as SPARQL-like text, for the plan log."""
    def term(t):
        if t[0] == "var":
            return f"?{t[1]}"
        if t[0] == "iri":
            return f"<{t[1]}>"
        return str(t[1])
    pred = term(tp.p) if tp.p[0] in ("var", "iri") else "(path)"
    return f"{term(tp.s)} {pred} {term(tp.o)}"


_CMP_FLIP = {"<": ">", ">": "<", "<=": ">=", ">=": "<=", "=": "="}
_LIT_KINDS = ("lit", "lit_exact", "num")


def _str_lit(t):
    """A filter's bare string operand (which carries the lexical alone)
    as the plain-literal pattern term ``("lit", '"lex"')``; any other
    term, and a string holding a quote or a backslash (its rendered
    lexical is escaped), is returned as is."""
    if t[0] == "str" and '"' not in t[1] and "\\" not in t[1]:
        return ("lit", f'"{t[1]}"')
    return t


def _path_record(tp, preds: Optional[set], graph_ctx: tuple,
                 s_term: tuple = ("var", "*")) -> dict:
    """The record of a property-path pattern (or of one part of it): it
    constrains nothing but its first hop's subject ``s_term``."""
    return {"preds": preds, "svar": None, "top": False, "cmps": [],
            "lexpats": [], "typereqs": [], "s_typereqs": [],
            "graph": graph_ctx, "text": _pattern_text(tp),
            "variants": [(s_term, ("var", "*"))]}


def _collect(group: Group, out: list, top: bool = False,
             in_subquery: bool = False,
             graph_ctx: tuple = ("default",)) -> None:
    """Recursively collect per-pattern records::

        {preds: set|None, svar: str|None, top: bool, cmps: [...],
         variants: [(s_term, o_term), ...]}

    ``variants`` are the alternative constant instantiations of the
    pattern (VALUES / FILTER-eq substitutions) — OR-semantics between
    them.  ``svar`` is the subject variable name for cross-pattern
    constraint propagation (None inside subqueries: a subquery's
    variables only join the outer scope when projected, so an outer-name
    collision must not leak constraints in).  ``top`` marks patterns of
    the root required group — only those define a variable's candidacy.
    Every nested group (OPTIONAL/UNION/GRAPH/MINUS/EXISTS/subquery)
    contributes: retaining MORE source rows than needed is always
    sound.  ``graph_ctx`` records which graph the pattern reads:
    ("default",) outside GRAPH, ("iri", g) under GRAPH <g>, ("any",)
    under GRAPH ?var — candidacy + graph-map inversion happen per TM
    in derive_tm_constraints."""
    if group is None:
        return
    # constant bindings for vars in this group: FILTER(?v = <iri>/"lit")
    # and single-variable VALUES blocks over constants.  Numeric
    # '=' comparisons stay in var_cmps (SPARQL '=' on numbers is VALUE
    # equality, matching the engine's numeric_value evaluation).
    var_consts: dict[str, list] = {}
    var_cmps: dict[str, list] = {}
    var_lexpats: dict[str, list] = {}
    var_typereqs: dict[str, list] = {}
    conjuncts: list = []

    def _flatten_and(node):
        if isinstance(node, tuple) and node and node[0] == "and":
            for sub in node[1:]:
                _flatten_and(sub)
        else:
            conjuncts.append(node)

    def _disjunct_eqs(node, acc):
        """Collect ('or'-nested) var=const equalities; False = a disjunct
        has another shape (the whole disjunction is unusable)."""
        if isinstance(node, tuple) and node and node[0] == "or":
            return all(_disjunct_eqs(sub, acc) for sub in node[1:])
        if isinstance(node, tuple) and node and node[0] == "cmp" \
                and node[1] == "=":
            for a, b in ((node[2], node[3]), (node[3], node[2])):
                if a[0] == "var":
                    b = _str_lit(b)
                    if b[0] in ("iri", "lit", "lit_exact"):
                        acc.append((a[1], b))
                        return True
        return False

    for flt in group.filters:
        _flatten_and(flt)
    for flt in conjuncts:
        # top-level OR of var=const equalities on ONE variable promotes
        # to a constant disjunction: FILTER(?s = <a> || ?s = <b>)
        if isinstance(flt, tuple) and flt and flt[0] == "or":
            eqs: list = []
            if _disjunct_eqs(flt, eqs) and eqs \
                    and len({v for v, _ in eqs}) == 1:
                var_consts.setdefault(eqs[0][0], []).extend(
                    t for _, t in eqs)
            continue
        if isinstance(flt, tuple) and flt[0] == "cmp":
            sides = (flt[2], flt[3])
            for a, b in (sides, sides[::-1]):
                if isinstance(a, tuple) and a[0] in ("langfn", "datatypefn") \
                        and flt[1] == "=" and isinstance(a[1], tuple) \
                        and a[1][0] == "var":
                    # LANG(?v) = "tag" / datatype(?v) = <dt>: per-term-map
                    # constant facets → candidacy requirement on ?v
                    if a[0] == "langfn" and b[0] == "str":
                        var_typereqs.setdefault(a[1][1], []).append(
                            ("lang", b[1]))
                    elif a[0] == "datatypefn" and b[0] == "iri":
                        var_typereqs.setdefault(a[1][1], []).append(
                            ("dtype", b[1]))
                    continue
                if a[0] != "var":
                    continue
                op = flt[1] if (a, b) == sides else _CMP_FLIP.get(flt[1])
                b = _str_lit(b)
                if op == "=" and b[0] in ("iri", "lit", "lit_exact"):
                    var_consts.setdefault(a[1], []).append(b)
                elif op in _CMP_FLIP and b[0] == "num":
                    # numeric comparison (incl. '='): value-based.  Only
                    # the ordered ops push: '!=' keeps IRI-vs-number rows
                    # (SPARQL '=' on non-literal pairs is false, not an
                    # error) so a value predicate would wrongly prune,
                    # and it is never selective anyway — full scan.
                    var_cmps.setdefault(a[1], []).append((op, b[1]))
            continue
        if isinstance(flt, tuple) and flt[0] == "in":
            # FILTER(?v IN (c1..cn)) ≡ an equality disjunction: every
            # member constant → per-member pattern variants (OR)
            v_term, members = flt[1], flt[2]
            norm = []
            for t in map(_str_lit, members):
                if t[0] not in ("iri", "num") + _LIT_KINDS:
                    norm = None
                    break
                norm.append(t)
            if v_term[0] == "var" and norm:
                var_consts.setdefault(v_term[1], []).extend(norm)
            continue
        if isinstance(flt, tuple) and flt[0] in ("strstarts", "strends",
                                                 "contains"):
            a, b = flt[1], flt[2]
            if isinstance(a, tuple) and a[0] == "strfn":
                a = a[1]            # STRSTARTS(STR(?v), p) — same lexical
            if isinstance(a, tuple) and a[0] == "var" \
                    and isinstance(b, tuple) and b[0] == "str":
                var_lexpats.setdefault(a[1], []).append((flt[0], b[1]))
            continue
        if isinstance(flt, tuple) and flt[0] == "regex":
            # regex over a var's lexical: a mandatory-literal prefix /
            # suffix / substring is a sound lexpat constraint (superset;
            # the evaluator still applies the full pattern)
            a = flt[1]
            if isinstance(a, tuple) and a[0] == "strfn":
                a = a[1]                # regex(STR(?v), p): same lexical
            flags = flt[3][1] if len(flt) > 3 \
                and isinstance(flt[3], tuple) else ""
            if isinstance(a, tuple) and a[0] == "var" \
                    and isinstance(flt[2], tuple) and flt[2][0] == "str" \
                    and not flags:
                for kp in _regex_lexpats(flt[2][1]):
                    var_lexpats.setdefault(a[1], []).append(kp)
            continue
        if isinstance(flt, tuple) and flt[0] == "langmatches":
            a, b = flt[1], flt[2]
            if isinstance(a, tuple) and a[0] == "langfn" \
                    and isinstance(a[1], tuple) and a[1][0] == "var" \
                    and isinstance(b, tuple) and b[0] == "str":
                var_typereqs.setdefault(a[1][1], []).append(
                    ("langmatch", b[1]))
            continue
        if isinstance(flt, tuple) and flt[0] in ("isiri", "isliteral",
                                                 "isblank") \
                and isinstance(flt[1], tuple) and flt[1][0] == "var":
            var_typereqs.setdefault(flt[1][1], []).append(
                ("termtype", flt[0][2:]))
            continue
        if isinstance(flt, tuple) and flt[0] == "isnumeric" \
                and isinstance(flt[1], tuple) and flt[1][0] == "var":
            # numeric_value() is NULL for every IRI/BNode term string:
            # only literal term maps can satisfy isNumeric (kept leniently
            # — the evaluator accepts plain literals with numeric lexicals)
            var_typereqs.setdefault(flt[1][1], []).append(
                ("termtype", "numeric"))
            continue
        if isinstance(flt, tuple) and flt[0] == "sameterm":
            # sameTerm(?v, const): term identity implies the '='-style
            # constant constraint (value equality is a superset of term
            # identity, and the evaluator still applies sameTerm itself)
            sides = (flt[1], flt[2])
            for a, b in (sides, sides[::-1]):
                if not (isinstance(a, tuple) and a[0] == "var"
                        and isinstance(b, tuple)):
                    continue
                b = _str_lit(b)
                if b[0] in ("iri", "lit", "lit_exact"):
                    var_consts.setdefault(a[1], []).append(b)
    for var, expr in group.binds:
        # BIND(const AS ?v): the evaluator joins the constant against
        # pattern occurrences of ?v (sequential-scope equality), so it
        # constrains exactly like FILTER(?v = const).  Computed
        # expressions derive nothing (full scan).  Several constraints
        # on one var stay OR-variants — a superset, sound.
        if not isinstance(expr, tuple):
            continue
        expr = _str_lit(expr)
        if expr[0] in ("lit", "iri"):
            var_consts.setdefault(var, []).append(expr)
        elif expr[0] == "termlit":
            var_consts.setdefault(var, []).append(("lit_exact", expr[1]))
        elif expr[0] == "num":
            # value-equality join (the evaluator compares numeric_value):
            # mirrors FILTER(?v = n) pushdown
            var_cmps.setdefault(var, []).append(("=", expr[1]))
    for vars_, rows in group.values:
        # per-variable projection of a (possibly multi-var) VALUES block:
        # a column that is all constants (no UNDEF) bounds its variable;
        # cross-variable correlation is dropped (superset, sound)
        for idx, var in enumerate(vars_):
            if rows and all(r[idx][0] in ("iri",) + _LIT_KINDS
                            for r in rows):
                var_consts.setdefault(var, []).extend(r[idx] for r in rows)
    for tp in group.patterns:
        if tp.p[0] not in ("iri", "var"):
            if tp.p[0] == "seq" and tp.s[0] == "iri" \
                    and isinstance(tp.p[1][0], tuple) \
                    and tp.p[1][0][0] == "iri":
                # sequence path with a constant subject: the FIRST hop is
                # anchored at that subject, so TMs producing its
                # predicate are constrained exactly like a plain pattern
                # (<s> p/q ?o ⇒ p-triples only matter with subject <s>);
                # the remaining steps stay unconstrained
                out.append(_path_record(tp, {tp.p[1][0][1]}, graph_ctx,
                                        tp.s))
                rest: Optional[set] = set()
                for elt in tp.p[1][1:]:
                    sub = _path_iris(elt)
                    if sub is None:
                        rest = None
                        break
                    rest |= sub
                out.append(_path_record(tp, rest, graph_ctx))
                continue
            # closures walk intermediate nodes: never constrain
            out.append(_path_record(tp, _path_iris(tp.p), graph_ctx))
            continue
        preds = {tp.p[1]} if tp.p[0] == "iri" else None

        def expand(term, iri_only: bool):
            if term[0] == "var" and term[1] in var_consts:
                subst = [t for t in var_consts[term[1]]
                         if t[0] == "iri" or not iri_only]
                if subst:
                    return subst
            return [term]

        svar = tp.s[1] if tp.s[0] == "var" and not in_subquery else None
        cmps = var_cmps.get(tp.o[1], []) if tp.o[0] == "var" else []
        lexpats = var_lexpats.get(tp.o[1], []) if tp.o[0] == "var" else []
        typereqs = var_typereqs.get(tp.o[1], []) if tp.o[0] == "var" else []
        s_typereqs = var_typereqs.get(tp.s[1], []) \
            if tp.s[0] == "var" else []
        variants = [(s, o) for s in expand(tp.s, iri_only=True)
                    for o in expand(tp.o, iri_only=False)]
        out.append({"preds": preds, "svar": svar, "top": top,
                    "cmps": cmps, "lexpats": lexpats,
                    "typereqs": typereqs, "s_typereqs": s_typereqs,
                    "graph": graph_ctx, "variants": variants,
                    "text": _pattern_text(tp)})
    for sub in group.optionals + group.minuses:
        _collect(sub, out, False, in_subquery, graph_ctx)
    for left, right in group.unions:
        _collect(left, out, False, in_subquery, graph_ctx)
        _collect(right, out, False, in_subquery, graph_ctx)
    for gterm, sub in group.graphs:
        gc = ("iri", gterm[1]) if gterm[0] == "iri" else ("any",)
        _collect(sub, out, False, in_subquery, gc)
    for pos, sub in group.exists:
        # a bare top-level FILTER EXISTS is a REQUIRED semi-join: an
        # outer binding survives only if the inner pattern matches, so
        # the inner group's direct patterns define candidacy and
        # AND-strengthen exactly like required siblings (r6).  NOT
        # EXISTS (and EXISTS embedded in compound boolean filters,
        # collected below) never constrain — they are not required.
        _collect(sub, out, top and pos, in_subquery)
    for sq in group.subqueries:
        _collect(sq.where, out, False, True)
    # EXISTS embedded in compound filters
    def walk_exists(node):
        if isinstance(node, tuple):
            if node[0] == "existsexpr":
                _collect(node[1], out, False, in_subquery)
            else:
                for e in node:
                    walk_exists(e)
        elif isinstance(node, list):
            for e in node:
                walk_exists(e)
    for flt in group.filters:
        walk_exists(flt)


def _eval_variant(mapping: MappingDocument, tm: TriplesMap, rec: dict,
                  s_term, o_term, single_pred, g_res):
    """(ok, conj) for one instantiation of the pattern ``rec`` against
    one TM.  ok=False means the TM provably cannot produce a triple
    matching it (with its filters); conj is the derived row constraint
    (possibly empty).  ``g_res`` is the pattern's graph-context
    inversion, merged last."""
    if not all(_subject_satisfies_typereq(tm, req)
               for req in rec["s_typereqs"]):
        return False, None          # subject term type can't satisfy

    def inversions():
        # each: None = the TM cannot match, AMBIGUOUS = no row
        # constraint, dict = a constraint to AND in
        if s_term[0] == "iri":
            yield invert_subject(tm, s_term[1])
        if single_pred is not None:
            if o_term[0] == "iri":
                yield invert_object(mapping, tm, single_pred, o_term[1])
            elif o_term[0] in _LIT_KINDS:
                yield invert_object_literal(mapping, tm, single_pred,
                                            o_term)
            for op, num_lex in rec["cmps"]:
                yield invert_object_compare(mapping, tm, single_pred, op,
                                            num_lex)
            for kind, pat in rec["lexpats"]:
                yield invert_object_lexpat(mapping, tm, single_pred, kind,
                                           pat)
            for req in rec["typereqs"]:
                yield invert_object_typereq(mapping, tm, single_pred, req)
        yield g_res

    conj: dict = {}
    for inv in inversions():
        if inv is None or (isinstance(inv, dict)
                           and not _conj_merge(conj, inv)):
            return False, None      # unmatched, or an unsatisfiable AND
    return True, conj


def _describe_constraints(mapping: MappingDocument, iris: list) -> dict:
    """Constraints for an IRI-only DESCRIBE (r5): a source row matters
    iff it can render one of the resources as its SUBJECT or as an
    OBJECT under one of the TM's constant predicates (the evaluator's
    expansion is exactly subject-edges ∪ object-edges,
    SparqlQueryRewriter.scala:116-152)."""
    out = {}
    for name, tm in mapping.triples_maps.items():
        emits = tm_pred_iris(tm)
        conjs: list = []
        seen: set = set()
        unconstrained = emits is None    # dynamic preds: can't enumerate
        for iri in iris:
            if unconstrained:
                break
            parts = []
            sc = invert_subject(tm, iri)
            if sc is AMBIGUOUS or sc == {}:
                unconstrained = True     # matches rows unconditionally
                break
            if isinstance(sc, dict):
                parts.append(sc)
            for p in emits:
                oc = invert_object(mapping, tm, p, iri)
                if oc is AMBIGUOUS or oc == {}:
                    unconstrained = True
                    break
                if isinstance(oc, dict):
                    parts.append(oc)
            if unconstrained:
                break
            for c in parts:
                key = frozenset(c.items())
                if key not in seen:
                    seen.add(key)
                    conjs.append(c)
        out[name] = None if unconstrained else conjs
    return out


def derive_tm_constraints(mapping: MappingDocument,
                          q: Union[str, SelectQuery],
                          tables: Optional[dict] = None) -> dict:
    """Per-TM source constraints for a parsed query (``derive_tm_plan``)."""
    return derive_tm_plan(mapping, q, tables)[0]


def derive_tm_plan(mapping: MappingDocument, q: Union[str, SelectQuery],
                   tables: Optional[dict] = None) -> tuple[dict, dict]:
    """``(constraints, fused)``: per-TM source constraints for a parsed
    query, and for each TM that a pattern with an unknowable predicate
    set (a variable predicate, a negated or zero-length path) may match,
    that pattern's text: such a pattern reads every predicate branch, so
    the TM compiles to one fused scan.  Constraints:
       None           → unconstrained (full scan)
       []             → TM generates no pattern-matching triple: eliminate
       [dict, ...]    → OR of column/ref→predicate conjunctions.

    Cross-pattern propagation (the reference's bind_m reduction +
    join-transferred conditions, MorphBaseQueryTranslator /
    AbstractQueryInnerJoin): when a TM's subject space is provably
    disjoint from every other TM's, a subject variable shared between
    top-level required patterns must be served ENTIRELY by this TM — a
    pattern it cannot match kills all its patterns for that variable
    (candidacy pruning); and when the subject is additionally unique per
    source row (xrr:uniqueRef through an injective render — needs
    ``tables`` for the schema), the per-pattern constraints AND together
    instead of forcing a full scan via the weakest pattern."""
    if isinstance(q, str):
        q = parse_sparql(q)
    if q.describe is not None:
        if any(k != "iri" for k, _v in q.describe):
            # DESCRIBE ?var: resources come from WHERE bindings — never
            # constrain
            return {name: None for name in mapping.triples_maps}, {}
        return _describe_constraints(mapping,
                                     [v for _k, v in q.describe]), {}
    pats: list = []
    _collect(q.where, pats, top=True)
    if q.construct:
        pass    # CONSTRUCT template doesn't read sources
    if q.from_graphs or q.from_named:
        # dataset clauses REPLACE the dataset: patterns outside GRAPH
        # read the merge of the FROM graphs (empty if none listed) and
        # GRAPH clauses see only the FROM NAMED graphs
        deflt, named = tuple(q.from_graphs), tuple(q.from_named)
        for rec in pats:
            g = rec["graph"]
            if g[0] == "default":
                rec["graph"] = ("anyof", deflt) if deflt else ("none",)
            elif g[0] == "any":
                rec["graph"] = ("anyof", named) if named else ("none",)
            elif g[0] == "iri":
                rec["graph"] = g if g[1] in named else ("none",)

    spaces = {n: subject_space(tm) for n, tm in mapping.triples_maps.items()}
    disjoint, unique = {}, {}
    for name, tm in mapping.triples_maps.items():
        disjoint[name] = all(
            other == name or subject_spaces_disjoint(spaces[name], osp)
            for other, osp in spaces.items())
        uq = False
        if disjoint[name]:
            if tables is not None \
                    and tm.logical_source.kind == "table" \
                    and tm.logical_source.value in tables:
                uq = subject_renders_unique(
                    tm, tables[tm.logical_source.value])
            elif tm.logical_source.kind == "query":
                # document tier (r6): schema-free injectivity — a
                # single-group template over a declared-unique reference
                uq = subject_renders_unique_schemaless(tm)
        unique[name] = uq

    out, fused = {}, {}
    for name, tm in mapping.triples_maps.items():
        emits = tm_pred_iris(tm)
        # evaluate every pattern once: (record, [(ok, conj), ...])
        evals = []
        for rec in pats:
            preds = rec["preds"]
            if preds is not None and emits is not None \
                    and not (preds & emits):
                evals.append((rec, None))   # pattern can't match TM triples
                continue
            # graph-position candidacy (R2RML quads): a TM whose graph
            # maps provably cannot emit into the pattern's graph context
            # serves no binding; an invertible graph template adds a row
            # constraint (e.g. GRAPH <g/{col}> ⇒ col = value)
            g_res = invert_graph_ctx(tm, preds, rec["graph"])
            if g_res is None:
                evals.append((rec, None))
                continue
            single_pred = next(iter(preds)) \
                if preds is not None and len(preds) == 1 else None
            evals.append((rec, [_eval_variant(mapping, tm, rec, s, o,
                                              single_pred, g_res)
                                for s, o in rec["variants"]]))

        # per-subject-variable candidacy + AND-combined constraints from
        # the top-level required patterns (sound only under disjoint /
        # disjoint+unique — see docstring)
        var_dead: set = set()
        var_conj: dict = {}
        if disjoint[name]:
            for rec, results in evals:
                svar = rec["svar"]
                if not rec["top"] or svar is None:
                    continue
                if results is None:
                    # TM emits none of the pattern's predicates: it cannot
                    # serve any binding of svar either
                    var_dead.add(svar)
                    continue
                oks = [c for ok, c in results if ok]
                if not oks:
                    var_dead.add(svar)  # TM serves no binding of svar
                    continue
                if unique[name] and len(oks) == 1 and oks[0]:
                    cur = var_conj.setdefault(svar, {})
                    if not _conj_merge(cur, oks[0]):
                        var_dead.add(svar)

        fused_by = [rec["text"] for rec, results in evals
                    if rec["preds"] is None and results is not None
                    and rec["svar"] not in var_dead
                    and any(ok for ok, _c in results)]
        if fused_by:
            fused[name] = fused_by[0]
        constraints: list[dict] = []
        seen = set()
        unconstrained = False
        for rec, results in evals:
            if results is None:
                continue
            svar = rec["svar"]
            if svar is not None and svar in var_dead:
                continue            # no svar-binding can use this TM
            for ok, conj in results:
                if not ok:
                    continue
                if svar is not None and unique[name] \
                        and svar in var_conj:
                    merged = dict(conj)
                    if not _conj_merge(merged, var_conj[svar]):
                        continue    # unsat with the variable's conj
                    conj = merged
                if not conj:
                    unconstrained = True
                    break
                key = frozenset(conj.items())   # all values hashable
                if key not in seen:
                    seen.add(key)
                    constraints.append(conj)
            if unconstrained:
                break
        out[name] = None if unconstrained else constraints
    return out, fused


def _eng_answer(spark: SparkSession, eng: SparqlEngine, q: SelectQuery):
    """Dispatch a parsed query against an engine: CONSTRUCT/DESCRIBE and
    SELECT return binding/triple DataFrames; ASK returns a one-row
    boolean frame (r6 — the answer paths previously fell through to the
    SELECT evaluator and returned an empty bindings frame)."""
    if q.construct is not None:
        return eng.construct(q)
    if q.is_ask:
        return spark.createDataFrame([(eng.ask(q),)], "ask boolean")
    return eng.sql(q)


# ---------------------------------------------------------------------------
# Per-source constraint application (find() composition, row filters)
# ---------------------------------------------------------------------------

def _doc_field_for_ref(tm: TriplesMap, ref: str) -> Optional[str]:
    """Template reference → document-level field path usable in find(),
    or None when the reference is iterator-relative (not pushable)."""
    ls = tm.logical_source
    if ls.iterator:
        # inside an iterator the only doc-level references are the
        # xrr:pushDown aliases: {$.<alias>} ← pushDown [xrr:reference
        # "$.<field>"; xrr:as "<alias>"]
        for pd in ls.pushdowns:
            if ref == "$." + pd.target_field:
                return pd.key
        return None
    if ref.startswith("$.") and not any(ch in ref for ch in "*[]()@"):
        return ref[2:]
    return None


def _lex_variants(value: str) -> list[str]:
    """JSON lexical forms under which a template-rendered value can be
    stored: '7' may come from number 7, 7.0 or string "7"."""
    variants = [value]
    try:
        variants.append(str(float(int(value))))   # "7" → "7.0"
    except ValueError:
        pass
    return list(dict.fromkeys(variants))


def _conj_to_find(tm: TriplesMap, conj: dict,
                  push_render: bool = True) -> Optional[dict]:
    """Constraint conjunction → find() sub-filter over the pushable
    document-level fields (a partial conjunction is still sound); None
    when nothing is pushable.  Internal operators keep the composed
    filter NATIVELY compilable (sources.py): type-blind $lexIn for raw
    template-inversion equalities, $renderIn for object-literal lexical
    renders, $numCmp for numeric comparison FILTERs.  ``push_render``
    is False when the engine config diverges from the default render
    pipeline (literal_trim off / quote encoding on) — the $renderIn
    mirror would be wrong, so those clauses are skipped."""
    clauses = []
    for ref, value in conj.items():
        field = _doc_field_for_ref(tm, ref)
        if field is None:
            continue
        if isinstance(value, tuple):
            if value[0] == "lexeq" and push_render:
                clauses.append({field: {"$renderIn": [value[1]]}})
            elif value[0] == "lexpat" and push_render:
                # STRSTARTS/STRENDS/CONTAINS over the rendered lexical
                clauses.append({field: {"$renderPat": [value[1], value[2]]}})
            elif value[0] == "cmp":
                ops = {}
                for op, lex in value[1]:
                    try:
                        v = float(lex)
                    except (TypeError, ValueError):
                        ops = None
                        break
                    if op in ops:
                        # duplicate op: keep the WEAKER bound so the
                        # pushed filter stays a superset (sound)
                        ops[op] = max(ops[op], v) if op in ("<", "<=") \
                            else min(ops[op], v) if op in (">", ">=") \
                            else ops[op]
                    else:
                        ops[op] = v
                if ops:
                    clauses.append({field: {"$numCmp": ops}})
            continue
        clauses.append({field: {"$lexIn": _lex_variants(value)}})
    if not clauses:
        return None
    if len(clauses) == 1:
        return clauses[0]
    return {"$and": clauses}


def constrained_plan(mapping: MappingDocument, constraints: dict,
                     push_render: bool = True
                     ) -> tuple[MappingDocument, dict]:
    """Apply derived constraints per source (r6 -- the analogue of the
    reference's per-source condition generation: the runner factory
    instantiates one translator per source, MorphRDBUnfolder.scala:65-97
    for the RDB conditions and MorphMongoDataSourceReader.scala:52-70
    for the Mongo ones).

    Returns ``(m2, tm_row_filters)``:
      - ``m2``: the mapping with each ``db.*.find`` TM's constraints
        composed into its find() filter (internal $lexIn/$renderIn/
        $numCmp operators, natively compilable) -- a deep copy when any
        filter changes.  ROM parents keep their full find() (the parent
        side of a join must stay complete);
      - ``tm_row_filters``: every other constrained TM's constraints,
        for NativeCompiler (``.where`` on the TM's own scan -> parquet
        PushedFilters).  Only native-tier TMs read them; a TM on another
        tier scans in full.
    A TM whose constraint is ``[]`` is left alone: the caller skips it."""
    rom_parents = {rom.parent_tm
                   for tm in mapping.triples_maps.values()
                   for pom in tm.predicate_object_maps
                   for rom in pom.ref_object_maps}
    row_filters: dict = {}
    finds: dict = {}
    for name, tm in mapping.triples_maps.items():
        c = constraints.get(name)
        if not c:
            continue
        if not tm.logical_source.is_find():
            row_filters[name] = c
            continue
        if name in rom_parents:
            continue
        ors = [f for f in (_conj_to_find(tm, conj, push_render)
                           for conj in c)
               if f is not None]
        if not ors or len(ors) != len(c):
            continue    # some disjunct not pushable → full scan stays sound
        derived = ors[0] if len(ors) == 1 else {"$or": ors}
        coll, ftext = parse_mongo_query(tm.logical_source.value)
        from .mongo_filter import parse_filter
        orig = parse_filter(ftext)
        new = derived if not orig else {"$and": [orig, derived]}
        finds[name] = f"db.{coll}.find({json.dumps(new)})"
    if finds:
        mapping = copy.deepcopy(mapping)
        for name, value in finds.items():
            mapping.triples_maps[name].logical_source.value = value
    return mapping, row_filters
