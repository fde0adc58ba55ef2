"""Differential + engagement battery for aggregate/DISTINCT pushdown
(aggpush.py, round 6).

Every battery query is answered twice:
  (a) through answer_auto — which takes the aggregate fast path when
      the bindings==rows proof holds;
  (b) over the full un-rewritten plan (the unconstrained routed plan +
      SparqlEngine) with evaluator-side aggregation.
Result multisets must agree (doubles compared at 9 significant digits:
partial aggregation reassociates float addition in BOTH paths, so the
last ulp is not defined in either).

Engagement tests pin WHICH queries take the fast path; adversarial
mappings (no uniqueRef, overlapping subject spaces, ROM predicate,
same-pred second slot, dynamic predicates) must refuse — except the
single-pattern DISTINCT case, which is sound without any uniqueness.
"""

import pytest

from morph_xr2rml_spark.aggpush import try_aggregate_pushdown_auto
from morph_xr2rml_spark.api import answer_auto
from morph_xr2rml_spark.examples import TPCH_KG_MAPPING, tpch_tables
from morph_xr2rml_spark.model import MappingDocument
from morph_xr2rml_spark.sparql import SparqlEngine, parse_sparql

from conftest import tier_pool

SF_DIR = "/root/testdata/sf0.001"
P = "PREFIX ex: <http://example.com/>\n" \
    "PREFIX xsd: <http://www.w3.org/2001/XMLSchema#>\n"

# (query, should_push)
QUERIES = [
    # single pattern, grouped counts
    ("SELECT ?seg (COUNT(*) AS ?n) WHERE { ?c ex:segment ?seg } "
     "GROUP BY ?seg ORDER BY ?seg", True),
    ("SELECT ?seg (COUNT(?c) AS ?n) WHERE { ?c ex:segment ?seg } "
     "GROUP BY ?seg", True),
    # numeric aggregates over a decimal column, multi-pattern AND
    ("SELECT ?seg (SUM(?b) AS ?s) (AVG(?b) AS ?a) (MIN(?b) AS ?lo) "
     "(MAX(?b) AS ?hi) WHERE { ?c ex:segment ?seg . ?c ex:acctbal ?b } "
     "GROUP BY ?seg ORDER BY ?seg", True),
    # global aggregates, COUNT DISTINCT
    ("SELECT (COUNT(DISTINCT ?seg) AS ?n) WHERE { ?c ex:segment ?seg }",
     True),
    ("SELECT (COUNT(*) AS ?n) (SUM(?p) AS ?tot) "
     "WHERE { ?o ex:totalPrice ?p }", True),
    # GROUP_CONCAT / SAMPLE keep exact term/lexical semantics
    ("SELECT ?seg (GROUP_CONCAT(DISTINCT ?seg) AS ?g) "
     "WHERE { ?c ex:segment ?seg } GROUP BY ?seg", True),
    ("SELECT ?seg (SAMPLE(?n) AS ?one) WHERE "
     "{ ?c ex:segment ?seg . ?c ex:name ?n } GROUP BY ?seg", True),
    # non-numeric aggregate inputs: date column and string column both
    # aggregate to NULL through numeric_value — mirrors must agree
    ("SELECT (MIN(?d) AS ?lo) WHERE { ?o ex:orderDate ?d }", True),
    ("SELECT (SUM(?st) AS ?s) WHERE { ?o ex:status ?st }", True),
    # DISTINCT projections (single pattern: no uniqueness needed)
    ("SELECT DISTINCT ?seg WHERE { ?c ex:segment ?seg } ORDER BY ?seg",
     True),
    ("SELECT DISTINCT ?c ?seg WHERE { ?c ex:segment ?seg } "
     "ORDER BY ?c LIMIT 7", True),
    ("SELECT DISTINCT * WHERE { ?c ex:segment ?seg } "
     "ORDER BY ?c OFFSET 3 LIMIT 5", True),
    # same predicate bound to two vars: both map to the one slot
    ("SELECT DISTINCT ?a ?b WHERE { ?c ex:segment ?a . ?c ex:segment ?b }",
     True),
    # multi-TM: ex:name is emitted by Region, Nation AND Customer —
    # three disjoint subject spaces union under one aggregate
    ("SELECT (COUNT(*) AS ?n) WHERE { ?s ex:name ?x }", True),
    ("SELECT DISTINCT ?x WHERE { ?s ex:name ?x } ORDER BY ?x LIMIT 10",
     True),
    # ORDER BY an aggregate alias (native numeric sort) + limit
    ("SELECT ?seg (COUNT(*) AS ?n) WHERE { ?c ex:segment ?seg } "
     "GROUP BY ?seg ORDER BY ?n ?seg LIMIT 3", True),
    # ---- FILTER / HAVING / constant-object support (evaluator-compiled
    # expressions over the native bindings frame) ----
    ("SELECT ?seg (COUNT(*) AS ?n) WHERE { ?c ex:segment ?seg . "
     'FILTER(?seg != "BUILDING") } GROUP BY ?seg ORDER BY ?seg', True),
    ("SELECT ?seg (COUNT(*) AS ?n) WHERE { ?c ex:segment ?seg . "
     "?c ex:acctbal ?b . FILTER(?b > 5000) } GROUP BY ?seg", True),
    ("SELECT (COUNT(*) AS ?n) WHERE { ?o ex:totalPrice ?p . "
     "FILTER(?p >= 50000 && ?p < 150000) }", True),
    ("SELECT (COUNT(*) AS ?n) WHERE { ?c ex:name ?x . "
     'FILTER STRSTARTS(STR(?x), "Customer#0000001") }', True),
    ("SELECT DISTINCT ?seg WHERE { ?c ex:segment ?seg . "
     'FILTER(CONTAINS(?seg, "U")) } ORDER BY ?seg', True),
    ("SELECT ?seg (COUNT(*) AS ?n) WHERE { ?c ex:segment ?seg . "
     'FILTER regex(?seg, "^(BUILD|MACH)") } GROUP BY ?seg', True),
    # constant-object patterns (plain-literal prefix match semantics)
    ('SELECT (COUNT(*) AS ?n) WHERE { ?c ex:segment "BUILDING" }', True),
    ('SELECT (COUNT(*) AS ?n) (AVG(?b) AS ?a) WHERE '
     '{ ?c ex:segment "BUILDING" . ?c ex:acctbal ?b }', True),
    ('SELECT DISTINCT ?c WHERE { ?c ex:segment "MACHINERY" } '
     "ORDER BY ?c LIMIT 5", True),
    # HAVING over a hidden aggregate + a projected one
    ("SELECT ?seg (COUNT(*) AS ?n) WHERE { ?c ex:segment ?seg } "
     "GROUP BY ?seg HAVING (COUNT(*) > 25) ORDER BY ?seg", True),
    ("SELECT ?seg (COUNT(*) AS ?n) WHERE { ?c ex:segment ?seg . "
     "?c ex:acctbal ?b } GROUP BY ?seg HAVING (AVG(?b) > 4200) "
     "ORDER BY ?seg", True),
    # ---- DISTINCT set quantifier in SUM/AVG (dedupe TERMS first) ----
    ("SELECT ?seg (SUM(DISTINCT ?b) AS ?s) (AVG(DISTINCT ?b) AS ?a) "
     "WHERE { ?c ex:segment ?seg . ?c ex:acctbal ?b } GROUP BY ?seg "
     "ORDER BY ?seg", True),
    ("SELECT (SUM(DISTINCT ?st) AS ?s) WHERE { ?o ex:status ?st }",
     True),
    # ---- sequence/inverse property paths (SPARQL §18.4 desugaring;
    # fresh intermediates resolve via forced edge-target covers) ----
    ("SELECT ?rn (COUNT(*) AS ?n) WHERE "
     "{ ?c ex:inNation/ex:inRegion/ex:name ?rn } GROUP BY ?rn "
     "ORDER BY ?rn", True),
    ("SELECT ?seg (COUNT(*) AS ?n) WHERE { ?o ex:placedBy/ex:segment "
     "?seg } GROUP BY ?seg ORDER BY ?seg", True),
    ("SELECT (COUNT(*) AS ?n) WHERE { ?c ex:name ?nm . "
     "?c ^ex:placedBy ?o }", True),
    ('SELECT ?nn (COUNT(*) AS ?n) WHERE { ?c ex:segment "BUILDING" . '
     "?c ex:inNation/ex:name ?nn } GROUP BY ?nn ORDER BY ?nn", True),
    # closures and alternatives keep the evaluator (set semantics)
    ("SELECT (COUNT(*) AS ?n) WHERE { ?n ex:inRegion* ?r }", False),
    ("SELECT (COUNT(*) AS ?n) WHERE { ?c ex:name|ex:segment ?x }",
     False),
    # ---- UNION of flat BGP branches (NULL-padded bag union) ----
    ("SELECT ?x (COUNT(*) AS ?n) WHERE { { ?c ex:segment ?x } UNION "
     "{ ?o ex:status ?x } } GROUP BY ?x ORDER BY ?x", True),
    # ?b bound in one branch only: NULL column, COUNT counts non-nulls
    ("SELECT (COUNT(?b) AS ?nb) (COUNT(*) AS ?n) WHERE "
     "{ { ?c ex:segment ?s . ?c ex:acctbal ?b } UNION "
     "{ ?o ex:status ?s } }", True),
    ("SELECT (SUM(?b) AS ?t) (COUNT(*) AS ?n) WHERE "
     "{ { ?c ex:acctbal ?b } UNION { ?o ex:status ?st } }", True),
    # three-way chain with per-branch filters
    ('SELECT (COUNT(*) AS ?n) WHERE { { ?c ex:segment ?x . '
     'FILTER(?x = "BUILDING") } UNION { ?o ex:status ?x . '
     'FILTER(?x != "P") } UNION { ?r ex:name ?x } }', True),
    # a join branch unioned with a single-group branch
    ("SELECT ?seg (COUNT(*) AS ?n) WHERE { { ?o ex:placedBy ?c . "
     "?c ex:segment ?seg } UNION { ?c2 ex:segment ?seg } } "
     "GROUP BY ?seg ORDER BY ?seg", True),
    ("SELECT DISTINCT ?x WHERE { { ?n2 a ex:Nation . ?n2 ex:name ?x } "
     "UNION { ?r a ex:Region . ?r ex:name ?x } } ORDER BY ?x LIMIT 8",
     True),
    # union BESIDE top-level patterns: the evaluator re-joins on common
    # columns with NULL-key drops the mirror does not replicate
    ("SELECT (COUNT(*) AS ?n) WHERE { ?c ex:segment ?s . "
     "{ ?c ex:acctbal ?b } UNION { ?c ex:name ?nm } }", False),
    # SELECT * over a union: column order is evaluator-defined
    ("SELECT DISTINCT * WHERE { { ?c ex:segment ?x } UNION "
     "{ ?o ex:status ?x } }", False),
    # ---- FILTER (NOT) EXISTS: distinct-probe semi/anti joins ----
    # customers without orders: anti-join through the ROM edge
    ("SELECT (COUNT(*) AS ?n) WHERE { ?c ex:segment ?s . "
     "FILTER NOT EXISTS { ?o ex:placedBy ?c } }", True),
    # per-segment customers WITH an expensive order (sub filter)
    ("SELECT ?s (COUNT(*) AS ?n) WHERE { ?c ex:segment ?s . "
     "FILTER EXISTS { ?o ex:placedBy ?c . ?o ex:totalPrice ?p . "
     "FILTER(?p > 200000) } } GROUP BY ?s ORDER BY ?s", True),
    # same-subject NOT EXISTS with a constant object
    ('SELECT (COUNT(*) AS ?n) WHERE { ?c ex:name ?nm . '
     'FILTER NOT EXISTS { ?c ex:segment "BUILDING" } }', True),
    # no shared var: the inner (non)emptiness decides wholesale
    ('SELECT (COUNT(*) AS ?n) WHERE { ?c ex:segment ?s . '
     'FILTER EXISTS { ?o2 ex:status "X" } }', True),
    # sequence path inside EXISTS, OPTIONAL on the outer
    ("SELECT (COUNT(?b) AS ?nb) WHERE { ?c ex:segment ?s . "
     "OPTIONAL { ?c ex:acctbal ?b } FILTER EXISTS { "
     '?c ex:inNation/ex:name ?nn . FILTER(STRSTARTS(?nn, "\\"A")) } }',
     True),
    # probe key nullable on the outer frame: evaluator NULL-decomposes
    ("SELECT (COUNT(*) AS ?n) WHERE { ?c ex:segment ?s . "
     "OPTIONAL { ?c ex:acctbal ?b } "
     "FILTER EXISTS { ?c2 ex:acctbal ?b } }", False),
    # ---- multi-var / fresh-var VALUES (verbatim vdf join mirror) ----
    ('SELECT (COUNT(*) AS ?n) WHERE { ?c ex:segment ?s . '
     '?c ex:name ?nm . VALUES (?s ?nm) { '
     '("BUILDING" "Customer#000000001") ("MACHINERY" UNDEF) } }', True),
    ('SELECT ?tag (COUNT(*) AS ?n) WHERE { ?c ex:segment "BUILDING" . '
     'VALUES ?tag { "a" "b" } } GROUP BY ?tag ORDER BY ?tag', True),
    ('SELECT ?s ?lbl (COUNT(*) AS ?n) WHERE { ?c ex:segment ?s . '
     'VALUES (?s ?lbl) { ("BUILDING" "B!") ("MACHINERY" "M!") } } '
     "GROUP BY ?s ?lbl ORDER BY ?s", True),
    # ---- MINUS: anti join on commons; no shared domain = row stays ----
    ('SELECT ?s (COUNT(*) AS ?n) WHERE { ?c ex:segment ?s . '
     'MINUS { ?c ex:segment "BUILDING" } } GROUP BY ?s ORDER BY ?s',
     True),
    ("SELECT (COUNT(*) AS ?n) WHERE { ?c ex:segment ?s . "
     "MINUS { ?o ex:placedBy ?c . ?o ex:totalPrice ?p . "
     "FILTER(?p > 300000) } }", True),
    ('SELECT (COUNT(*) AS ?n) WHERE { ?c ex:segment ?s . '
     'MINUS { ?o2 ex:status "F" } }', True),
    # ---- subqueries: recursive push + common-column join ----
    ("SELECT ?name ?t WHERE { ?c ex:name ?name . { SELECT ?c "
     "(SUM(?p) AS ?t) WHERE { ?o ex:placedBy ?c . ?o ex:totalPrice ?p }"
     " GROUP BY ?c } } ORDER BY DESC(?t) ?name LIMIT 10", True),
    # outer FILTER over the sub's plain aggregate column
    ("SELECT ?name WHERE { ?c ex:name ?name . { SELECT ?c "
     "(COUNT(*) AS ?k) WHERE { ?o ex:placedBy ?c } GROUP BY ?c } "
     "FILTER(?k >= 15) } ORDER BY ?name", True),
    # outer aggregate over the sub's plain column (avg of sums)
    ('SELECT (AVG(?t) AS ?a) (COUNT(*) AS ?n) WHERE { { SELECT ?c '
     "(SUM(?p) AS ?t) WHERE { ?o ex:placedBy ?c . ?o ex:totalPrice ?p }"
     ' GROUP BY ?c } ?c ex:segment "BUILDING" }', True),
    # sub-local ORDER/LIMIT applies before the outer join
    ("SELECT ?name ?t WHERE { ?c ex:name ?name . { SELECT ?c "
     "(SUM(?p) AS ?t) WHERE { ?o ex:placedBy ?c . ?o ex:totalPrice ?p }"
     " GROUP BY ?c ORDER BY DESC(?t) ?c LIMIT 5 } } ORDER BY ?name",
     True),
    # outer aggregates over sub-only TERM columns: the tail computes
    # their inputs from the joined column (term-correct forms)
    ("SELECT (COUNT(DISTINCT ?d) AS ?n) WHERE { ?c ex:segment ?s . "
     "{ SELECT ?c ?d WHERE { ?o2 ex:placedBy ?c . ?o2 ex:orderDate ?d }"
     " } }", True),
    ("SELECT ?s (AVG(?p2) AS ?a) (COUNT(*) AS ?n) WHERE { "
     "?c ex:segment ?s . { SELECT ?c ?p2 WHERE { ?o2 ex:placedBy ?c . "
     "?o2 ex:totalPrice ?p2 } } } GROUP BY ?s ORDER BY ?s", True),
    # ---- rdf:type constants: pure TM candidacy ----
    ("SELECT (COUNT(*) AS ?n) WHERE { ?c a ex:Customer }", True),
    ("SELECT (COUNT(*) AS ?n) WHERE { ?n a ex:Nation }", True),
    ("SELECT ?seg (COUNT(*) AS ?n) WHERE { ?c a ex:Customer . "
     "?c ex:segment ?seg } GROUP BY ?seg ORDER BY ?seg", True),
    ("SELECT DISTINCT ?x WHERE { ?s a ex:Region . ?s ex:name ?x } "
     "ORDER BY ?x", True),
    # ---- VALUES (single-bound-var membership mirror) ----
    ('SELECT ?seg (COUNT(*) AS ?n) WHERE { ?c ex:segment ?seg . '
     'VALUES ?seg { "BUILDING" "MACHINERY" } } GROUP BY ?seg '
     "ORDER BY ?seg", True),
    ('SELECT DISTINCT ?c WHERE { ?c ex:segment ?seg . '
     'VALUES ?seg { "BUILDING" } } ORDER BY ?c LIMIT 5', True),
    # UNDEF row = wildcard: no constraint, still pushable
    ('SELECT (COUNT(*) AS ?n) WHERE { ?c ex:segment ?seg . '
     'VALUES ?seg { "BUILDING" UNDEF } }', True),
    # IRI membership
    ("SELECT (COUNT(*) AS ?n) WHERE { ?c ex:segment ?seg . "
     "VALUES ?c { <http://example.org/customer/1> "
     "<http://example.org/customer/2> } }", True),
    # ---- SELECT expressions (pre/post-grouping split) ----
    # pre-expr group key computed on the bindings frame
    ('SELECT (SUBSTR(?seg, 1, 4) AS ?pre) (COUNT(*) AS ?n) WHERE '
     "{ ?c ex:segment ?seg } GROUP BY ?pre ORDER BY ?pre", True),
    ('SELECT (STRBEFORE(?seg, "I") AS ?k) (COUNT(?k) AS ?n) WHERE '
     "{ ?c ex:segment ?seg } GROUP BY ?k ORDER BY ?k", True),
    # post-expr over group keys + aggregate aliases
    ('SELECT ?seg (COUNT(*) AS ?n) (IF(?n > 25, "big", "small") AS ?size) '
     "WHERE { ?c ex:segment ?seg } GROUP BY ?seg ORDER BY ?seg", True),
    ("SELECT (COUNT(*) AS ?n) (?n * 2 AS ?n2) WHERE "
     "{ ?c ex:segment ?seg }", True),
    # pre-expr in a DISTINCT projection
    ("SELECT DISTINCT ?seg (UCASE(?seg) AS ?u) WHERE "
     "{ ?c ex:segment ?seg } ORDER BY ?seg", True),
    # ---- refusals: the evaluator keeps these ----
    # multi-var VALUES now mirrors the evaluator's vdf join (late r6)
    ('SELECT (COUNT(*) AS ?n) WHERE { ?c ex:segment ?seg . '
     "?c ex:name ?nm . VALUES (?seg ?nm) { "
     '("BUILDING" "Customer#000000001") } }', True),
    # top-level FILTER EXISTS now compiles to a distinct-probe semi
    # join (late r6); parenthesized EXISTS inside boolean filter
    # expressions still needs the pool (existsexpr markers)
    ("SELECT (COUNT(*) AS ?n) WHERE { ?c ex:segment ?seg . "
     'FILTER EXISTS { ?c ex:name ?x } }', True),
    ("SELECT (COUNT(*) AS ?n) WHERE { ?c ex:segment ?seg . "
     'FILTER(EXISTS { ?c ex:name ?x } && ?seg != "BUILDING") }',
     False),
    # two classes no TM emits together: provably empty, but cands==[]
    # falls back (the evaluator answers empty just as well)
    ("SELECT (COUNT(*) AS ?n) WHERE { ?c a ex:Customer . ?c a ex:Nation }",
     False),
    # variable type object multiplies per class
    ("SELECT (COUNT(?t) AS ?n) WHERE { ?c a ?t }", False),
    # ROM-backed predicate: a child-parent join with a pseudo-group
    ("SELECT (COUNT(*) AS ?n) WHERE { ?c ex:inNation ?x }", True),
    # ---- join trees over referencing-object-map edges ----
    ("SELECT (COUNT(*) AS ?n) WHERE { ?c ex:segment ?s . "
     "?o ex:placedBy ?c }", True),
    # the reference's flagship analytics shape: orders -> customer,
    # grouped by the customer attribute (sparql_orders_by_segment)
    ("SELECT ?seg (COUNT(?o) AS ?n) WHERE { ?o a ex:Order . "
     "?o ex:placedBy ?c . ?c ex:segment ?seg } GROUP BY ?seg "
     "ORDER BY ?seg", True),
    ("SELECT ?seg (COUNT(*) AS ?n) (SUM(?p) AS ?s) WHERE "
     "{ ?o ex:placedBy ?c . ?o ex:totalPrice ?p . ?c ex:segment ?seg } "
     "GROUP BY ?seg ORDER BY ?seg", True),
    # pseudo-group: the edge object is never a pattern subject
    ("SELECT ?c (COUNT(?o) AS ?n) WHERE { ?o ex:placedBy ?c } "
     "GROUP BY ?c ORDER BY ?n ?c LIMIT 10", True),
    # join + filter on the parent side
    ("SELECT (COUNT(*) AS ?n) WHERE { ?o ex:placedBy ?c . "
     "?c ex:acctbal ?b . FILTER(?b > 5000) }", True),
    ("SELECT DISTINCT ?seg WHERE { ?o ex:placedBy ?c . "
     "?c ex:segment ?seg } ORDER BY ?seg", True),
    # forced covers: an edge TARGET's cover is the ROM parent, which
    # disambiguates the three-emitter ex:name (extra emitters are
    # space-disjoint from the cover, so they provably contribute none)
    ("SELECT (COUNT(*) AS ?n2) WHERE { ?c ex:inNation ?n . "
     "?n ex:name ?nn }", True),
    ("SELECT ?nn (COUNT(*) AS ?cnt) WHERE { ?o ex:placedBy ?c . "
     "?c ex:inNation ?nt . ?nt ex:name ?nn } GROUP BY ?nn "
     "ORDER BY ?nn", True),
    ("SELECT ?r (COUNT(?c) AS ?n) WHERE { ?c ex:inNation ?nt . "
     "?nt ex:inRegion ?r } GROUP BY ?r ORDER BY ?r", True),
    # plain (non-aggregate) SELECT over a join tree: bindings == rows,
    # so the raw-key join replaces the term-string pattern join
    ("SELECT ?cust ?nname WHERE { ?cust a ex:Customer . "
     "?cust ex:inNation ?n . ?n ex:name ?nname } ORDER BY ?cust ?nname",
     True),
    ("SELECT ?o ?seg WHERE { ?o ex:placedBy ?c . ?c ex:segment ?seg } "
     "ORDER BY ?o LIMIT 20", True),
    # same var under two predicates (a real join)
    ("SELECT (COUNT(*) AS ?n) WHERE { ?c ex:name ?x . ?c ex:segment ?x }",
     False),
    # OPTIONAL single-pattern slot: nullable column (late r6)
    ("SELECT (COUNT(?b) AS ?n) WHERE { ?c ex:segment ?s . "
     "OPTIONAL { ?c ex:acctbal ?b } }", True),
    # OPTIONAL over a multi-TM pool: only Customer emits ex:segment, so
    # Region/Nation contributors take the typed-NULL slot; NULL group
    ("SELECT ?sg (COUNT(?sg) AS ?k) (COUNT(*) AS ?n) WHERE "
     "{ ?s ex:name ?nm . OPTIONAL { ?s ex:segment ?sg } } "
     "GROUP BY ?sg ORDER BY ?sg", True),
    # aggregate directly over an optional numeric slot incl. absent TMs
    ("SELECT (SUM(?b) AS ?t) (COUNT(*) AS ?n) WHERE "
     "{ ?s ex:name ?nm . OPTIONAL { ?s ex:acctbal ?b } }", True),
    # plain SELECT (no aggregate, no DISTINCT)
    ("SELECT ?c ?seg WHERE { ?c ex:segment ?seg }", False),
    # ---- BIND over a pattern-bound var: the evaluator's equality in
    # its term-constant, numeric and lexical forms ----
    ('SELECT (COUNT(*) AS ?n) WHERE { ?c ex:segment ?seg . '
     'BIND("BUILDING" AS ?seg) }', True),
    ("SELECT ?seg (COUNT(*) AS ?n) WHERE { ?c ex:segment ?seg . "
     "?c ex:acctbal ?b . BIND(ABS(?b) AS ?b) } GROUP BY ?seg "
     "ORDER BY ?seg", True),
    ('SELECT DISTINCT ?c WHERE { ?c ex:segment ?seg . '
     'BIND(CONCAT("BUILD", "ING") AS ?seg) } ORDER BY ?c LIMIT 5', True),
    # expression ORDER BY key, then OFFSET
    ("SELECT DISTINCT ?seg WHERE { ?c ex:segment ?seg } "
     "ORDER BY DESC(STRLEN(?seg)) ?seg OFFSET 1", True),
    # UNION branches leave out an aggregate input a fresh VALUES var
    # supplies after the union (the tail computes it)
    ("SELECT ?x (COUNT(DISTINCT ?tag) AS ?n) WHERE { { ?c ex:segment ?x } "
     'UNION { ?o ex:status ?x } VALUES ?tag { "a" "b" } } GROUP BY ?x '
     "ORDER BY ?x", True),
]


def _norm(rows):
    out = []
    for r in rows:
        out.append(tuple(float(f"{v:.9g}") if isinstance(v, float) else v
                         for v in r))
    return sorted(out, key=repr)


def _order_keys(rows, q):
    """The rows' ORDER BY keys in result order, over the plain-variable
    keys only: the multiset of rows fixes this sequence whatever order
    ties take."""
    keys = [v for v, _asc in parse_sparql(P + q).order_by
            if isinstance(v, str)]
    return [tuple(float(f"{r[k]:.9g}") if isinstance(r[k], float) else r[k]
                  for k in keys) for r in rows]


@pytest.fixture(scope="module")
def env(spark):
    mapping = MappingDocument.from_text(TPCH_KG_MAPPING)
    tables = tpch_tables(spark, SF_DIR)
    full = tier_pool(spark, mapping, "native", tables, fused=False,
                     dedup=False)
    engine = SparqlEngine(full, dedup_source=True)
    return mapping, tables, engine


@pytest.mark.parametrize("qi", range(len(QUERIES)))
def test_pushed_equals_evaluator(spark, env, qi):
    mapping, tables, engine = env
    q, _push = QUERIES[qi]
    fast_rows = answer_auto(spark, mapping, P + q, tables=tables).collect()
    slow_rows = engine.sql(P + q).collect()
    fast = _norm(fast_rows)
    slow = _norm(slow_rows)
    assert fast == slow, f"divergence on: {q}"
    assert _order_keys(fast_rows, q) == _order_keys(slow_rows, q), \
        f"order divergence on: {q}"


@pytest.mark.parametrize("qi", range(len(QUERIES)))
def test_engagement(spark, env, qi):
    mapping, tables, _engine = env
    q, push = QUERIES[qi]
    got = try_aggregate_pushdown_auto(spark, mapping, parse_sparql(P + q),
                                      tables=tables)
    assert (got is not None) == push, q


# ---------------------------------------------------------------------------
# Adversarial mappings
# ---------------------------------------------------------------------------

NO_UNIQUE_MAPPING = """
@prefix rr:  <http://www.w3.org/ns/r2rml#> .
@prefix ex:  <http://example.com/> .
<#C> a rr:TriplesMap;
    rr:logicalTable [ rr:tableName "customer" ];
    rr:subjectMap [ rr:template "http://example.org/customer/{c_custkey}" ];
    rr:predicateObjectMap [ rr:predicate ex:segment;
                            rr:objectMap [ rr:column "c_mktsegment" ] ];
    rr:predicateObjectMap [ rr:predicate ex:name;
                            rr:objectMap [ rr:column "c_name" ] ].
"""

OVERLAP_MAPPING = """
@prefix rr:  <http://www.w3.org/ns/r2rml#> .
@prefix xrr: <http://i3s.unice.fr/xr2rml#> .
@prefix ex:  <http://example.com/> .
<#A> a rr:TriplesMap;
    rr:logicalTable [ rr:tableName "nation"; xrr:uniqueRef "n_nationkey" ];
    rr:subjectMap [ rr:template "http://example.org/thing/{n_nationkey}" ];
    rr:predicateObjectMap [ rr:predicate ex:label;
                            rr:objectMap [ rr:column "n_name" ] ].
<#B> a rr:TriplesMap;
    rr:logicalTable [ rr:tableName "customer"; xrr:uniqueRef "c_custkey" ];
    rr:subjectMap [ rr:template "http://example.org/thing/{c_custkey}" ];
    rr:predicateObjectMap [ rr:predicate ex:label;
                            rr:objectMap [ rr:column "c_mktsegment" ] ].
"""

TWO_SLOT_MAPPING = """
@prefix rr:  <http://www.w3.org/ns/r2rml#> .
@prefix xrr: <http://i3s.unice.fr/xr2rml#> .
@prefix ex:  <http://example.com/> .
<#C> a rr:TriplesMap;
    rr:logicalTable [ rr:tableName "customer"; xrr:uniqueRef "c_custkey" ];
    rr:subjectMap [ rr:template "http://example.org/customer/{c_custkey}" ];
    rr:predicateObjectMap [ rr:predicate ex:label;
                            rr:objectMap [ rr:column "c_mktsegment" ] ];
    rr:predicateObjectMap [ rr:predicate ex:label;
                            rr:objectMap [ rr:column "c_name" ] ].
"""


def test_sum_avg_distinct_dedupes_terms(spark):
    # §18.5.1: Distinct removes duplicate TERMS, then Sum applies —
    # "1"^^integer and "1.0"^^decimal are distinct terms and BOTH count
    rows = [
        ("<urn:a>", "<urn:p>",
         '"1"^^<http://www.w3.org/2001/XMLSchema#integer>', None),
        ("<urn:b>", "<urn:p>",
         '"1"^^<http://www.w3.org/2001/XMLSchema#integer>', None),
        ("<urn:c>", "<urn:p>",
         '"1.0"^^<http://www.w3.org/2001/XMLSchema#decimal>', None),
        ("<urn:d>", "<urn:p>",
         '"2"^^<http://www.w3.org/2001/XMLSchema#integer>', None),
        ("<urn:e>", "<urn:p>", '"x"', None),
    ]
    t = spark.createDataFrame(
        rows, "subj string, pred string, obj string, graph string")
    eng = SparqlEngine(t)
    r = eng.sql("SELECT (SUM(DISTINCT ?o) AS ?s) "
                "(AVG(DISTINCT ?o) AS ?a) (SUM(?o) AS ?p) "
                "WHERE { ?x <urn:p> ?o }").collect()[0]
    assert r["s"] == 4.0
    assert abs(r["a"] - 4.0 / 3.0) < 1e-12
    assert r["p"] == 5.0


def test_having_without_aggref_refuses(spark, env):
    # the evaluator routes HAVING-only queries through its aggregate
    # branch (has_aggs counts q.having); the distinct path must not
    # swallow them
    mapping, tables, _e = env
    q = parse_sparql(P + "SELECT DISTINCT ?seg WHERE "
                         "{ ?c ex:segment ?seg } GROUP BY ?seg "
                         "HAVING (?seg > \"A\")")
    assert try_aggregate_pushdown_auto(spark, mapping, q,
                                       tables=tables) is None


def test_unbound_filter_var_refuses(spark, env):
    # both paths raise on the unbound variable (SPARQL forbids it);
    # the fast path must refuse rather than crash differently
    mapping, tables, _e = env
    q = parse_sparql(P + "SELECT (COUNT(*) AS ?n) WHERE "
                         "{ ?c ex:segment ?seg . FILTER(?other > 1) }")
    assert try_aggregate_pushdown_auto(spark, mapping, q,
                                       tables=tables) is None


def test_no_uniqueref_refuses_aggregates_allows_distinct(spark, env):
    _m, tables, _e = env
    mapping = MappingDocument.from_text(NO_UNIQUE_MAPPING)
    agg = parse_sparql(P + "SELECT (COUNT(*) AS ?n) WHERE "
                           "{ ?c ex:segment ?s }")
    assert try_aggregate_pushdown_auto(spark, mapping, agg,
                                       tables=tables) is None
    multi = parse_sparql(P + "SELECT DISTINCT ?s WHERE "
                             "{ ?c ex:segment ?s . ?c ex:name ?n }")
    assert try_aggregate_pushdown_auto(spark, mapping, multi,
                                       tables=tables) is None
    # single-pattern DISTINCT is sound with no uniqueness proof at all
    single = parse_sparql(P + "SELECT DISTINCT ?s WHERE "
                              "{ ?c ex:segment ?s }")
    pushed = try_aggregate_pushdown_auto(spark, mapping, single, tables=tables)
    assert pushed is not None
    full = tier_pool(spark, mapping, "native", tables, fused=False,
                     dedup=False)
    slow = SparqlEngine(full, dedup_source=True).sql(
        P + "SELECT DISTINCT ?s WHERE { ?c ex:segment ?s }")
    assert _norm(pushed.collect()) == _norm(slow.collect())


def test_overlapping_subject_spaces_refuse(spark, env):
    _m, tables, _e = env
    mapping = MappingDocument.from_text(OVERLAP_MAPPING)
    for q in ("SELECT (COUNT(*) AS ?n) WHERE { ?t ex:label ?l }",
              "SELECT DISTINCT ?l WHERE { ?t ex:label ?l }"):
        assert try_aggregate_pushdown_auto(spark, mapping, parse_sparql(P + q),
                                           tables=tables) is None


def test_same_pred_second_slot_refuses(spark, env):
    _m, tables, _e = env
    mapping = MappingDocument.from_text(TWO_SLOT_MAPPING)
    q = parse_sparql(P + "SELECT (COUNT(*) AS ?n) WHERE "
                         "{ ?c ex:label ?l }")
    assert try_aggregate_pushdown_auto(spark, mapping, q,
                                       tables=tables) is None


# ---------------------------------------------------------------------------
# Seeded aggregate-query fuzzer: random GROUP BY / HAVING / FILTER /
# constant-object combinations over one entity, pushed vs evaluator
# ---------------------------------------------------------------------------

import random


class AggGen:
    """One seeded random aggregate query over a single entity (the
    shape the fast path targets — the structural fuzzer in
    test_pushdown_fuzz.py covers the multi-entity fallback space)."""

    SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "MACHINERY",
                "HOUSEHOLD", "NOSUCHSEG"]
    STATUSES = ["O", "F", "P", "X"]

    def __init__(self, seed: int):
        self.r = random.Random(seed)

    def build(self) -> str:
        r = self.r
        join = r.random() < 0.35
        if join or r.random() < 0.5:
            key_pred, key_const = "ex:segment", r.choice(self.SEGMENTS)
            num_pred, subj = "ex:acctbal", "?c"
        else:
            key_pred, key_const = "ex:status", r.choice(self.STATUSES)
            num_pred, subj = "ex:totalPrice", "?o"
        pats = []
        if join:
            # orders -> customer edge; sometimes a numeric order attr
            pats.append("?ord ex:placedBy ?c .")
            if r.random() < 0.5:
                pats.append("?ord ex:totalPrice ?tp .")
            if r.random() < 0.4:
                pats.append("?ord a ex:Order .")
        key_is_var = r.random() < 0.75
        if key_is_var:
            pats.append(f"{subj} {key_pred} ?k .")
        else:
            pats.append(f'{subj} {key_pred} "{key_const}" .')
        want_num = r.random() < 0.8
        if want_num:
            pats.append(f"{subj} {num_pred} ?v .")
        filts = []
        if key_is_var and r.random() < 0.4:
            filts.append(r.choice([
                f'FILTER(?k != "{r.choice(self.SEGMENTS)}")',
                f'FILTER(CONTAINS(?k, "U"))',
                f'FILTER(?k IN ("{self.SEGMENTS[0]}", "{self.SEGMENTS[1]}"))',
            ]))
        if want_num and r.random() < 0.5:
            op = r.choice(["<", ">", "<=", ">=", "!="])
            lit = r.choice(["0", "5000", "57288.56", "150000.0"])
            filts.append(f"FILTER(?v {op} {lit})")
        aggs = [r.choice([
            "(COUNT(*) AS ?n)",
            f"(COUNT({subj}) AS ?n)",
            "(COUNT(DISTINCT ?k) AS ?n)" if key_is_var else
            "(COUNT(*) AS ?n)",
        ])]
        if want_num:
            for fn, al in (("SUM", "?s"), ("AVG", "?a"),
                           ("MIN", "?lo"), ("MAX", "?hi")):
                if r.random() < 0.5:
                    aggs.append(f"({fn}(?v) AS {al[0:]})")
        group = key_is_var and r.random() < 0.7
        head = ("?k " if group else "") + " ".join(aggs)
        tail = " GROUP BY ?k" if group else ""
        if group and want_num and r.random() < 0.3:
            tail += " HAVING (AVG(?v) > 1000)"
        if group and r.random() < 0.5:
            tail += " ORDER BY ?k"
        body = "\n  ".join(pats + filts)
        return f"SELECT {head} WHERE {{\n  {body}\n}}{tail}"


@pytest.mark.parametrize("seed", range(301, 331))
def test_fuzz_agg_pushed_equals_evaluator(spark, env, seed):
    mapping, tables, engine = env
    q = P + AggGen(seed).build()
    fast = _norm(answer_auto(spark, mapping, q, tables=tables).collect())
    slow = _norm(engine.sql(q).collect())
    assert fast == slow, f"divergence (seed {seed}) on:\n{q}"


class RichAggGen:
    """Seeded random queries over the late-r6 shape space — OPTIONAL
    slots, pure-UNION WHEREs, sequence/inverse property paths and
    subqueries — answered through the rewrite path (pushed when the
    shape admits it, rewrite/evaluator fallback otherwise) and compared
    against the plain evaluator either way."""

    def __init__(self, seed: int):
        self.r = random.Random(seed)

    def build(self) -> str:
        r = self.r
        mode = r.choice(["optional", "union", "path", "subquery",
                         "exists", "minus", "values"])
        if mode in ("exists", "minus"):
            outer = r.choice(["?c ex:segment ?s .",
                              "?c ex:name ?nm . ?c ex:acctbal ?b ."])
            sub = r.choice([
                "?o ex:placedBy ?c",
                "?o ex:placedBy ?c . ?o ex:totalPrice ?p . "
                "FILTER(?p > 250000)",
                '?c ex:segment "BUILDING"',
                '?o2 ex:status "F"'])
            kw = ("FILTER EXISTS" if mode == "exists" and r.random() < .5
                  else "FILTER NOT EXISTS" if mode == "exists"
                  else "MINUS")
            grp = "?s" in outer and r.random() < 0.5
            head = ("?s " if grp else "") + "(COUNT(*) AS ?n)"
            tail = " GROUP BY ?s ORDER BY ?s" if grp else ""
            return (f"SELECT {head} WHERE {{ {outer} "
                    f"{kw} {{ {sub} }} }}{tail}")
        if mode == "values":
            shape = r.choice(["fresh", "pair", "undef"])
            if shape == "fresh":
                return ('SELECT ?tag (COUNT(*) AS ?n) WHERE { '
                        '?c ex:segment ?s . VALUES ?tag { "x" "y" } } '
                        "GROUP BY ?tag ORDER BY ?tag")
            if shape == "pair":
                return ('SELECT ?s ?lbl (COUNT(*) AS ?n) WHERE { '
                        "?c ex:segment ?s . VALUES (?s ?lbl) { "
                        '("BUILDING" "B") ("FURNITURE" "F") } } '
                        "GROUP BY ?s ?lbl ORDER BY ?s")
            return ('SELECT (COUNT(*) AS ?n) WHERE { ?c ex:segment ?s '
                    ". ?c ex:name ?nm . VALUES (?s ?nm) { "
                    '("MACHINERY" UNDEF) '
                    '("BUILDING" "Customer#000000001") } }')
        if mode == "optional":
            opt = r.choice(["?c ex:acctbal ?v", "?c ex:name ?v"])
            aggs = r.choice([
                "(COUNT(?v) AS ?n)",
                "(COUNT(*) AS ?n) (COUNT(?v) AS ?m)",
                "(SUM(?v) AS ?s) (COUNT(*) AS ?n)"])
            grp = r.random() < 0.6
            head = ("?k " if grp else "") + aggs
            tail = " GROUP BY ?k ORDER BY ?k" if grp else ""
            subj = ("?c ex:segment ?k ." if grp or r.random() < 0.7
                    else "?c ex:name ?k .")
            return (f"SELECT {head} WHERE {{ {subj} "
                    f"OPTIONAL {{ {opt} }} }}{tail}")
        if mode == "union":
            b1 = r.choice(["?c ex:segment ?x", "?c2 ex:name ?x",
                           "?c ex:segment ?x . ?c ex:acctbal ?v"])
            b2 = r.choice(["?o ex:status ?x", "?r ex:name ?x",
                           "?o ex:status ?x . ?o ex:totalPrice ?w"])
            f1 = (f' FILTER(CONTAINS(?x, "{r.choice("AEIOU")}"))'
                  if r.random() < 0.4 else "")
            aggs = "(COUNT(*) AS ?n)"
            if "?v" in b1 and r.random() < 0.6:
                aggs += " (COUNT(?v) AS ?m)"
            grp = r.random() < 0.6
            head = ("?x " if grp else "") + aggs
            tail = " GROUP BY ?x ORDER BY ?x" if grp else ""
            return (f"SELECT {head} WHERE {{ {{ {b1} .{f1} }} UNION "
                    f"{{ {b2} }} }}{tail}")
        if mode == "path":
            pat = r.choice([
                "?c ex:inNation/ex:name ?k",
                "?c ex:inNation/ex:inRegion/ex:name ?k",
                "?o ex:placedBy/ex:segment ?k",
                "?o ex:placedBy/ex:inNation/ex:name ?k"])
            extra = ""
            if pat.startswith("?c") and r.random() < 0.4:
                extra = ' ?c ex:segment "BUILDING" .'
            aggs = "(COUNT(*) AS ?n)"
            grp = r.random() < 0.7
            head = ("?k " if grp else "") + aggs
            tail = " GROUP BY ?k ORDER BY ?k" if grp else ""
            return f"SELECT {head} WHERE {{ {pat} .{extra} }}{tail}"
        # subquery
        agg = r.choice(["(COUNT(*) AS ?t)", "(SUM(?p) AS ?t)",
                        "(MAX(?p) AS ?t)"])
        subpat = "?o ex:placedBy ?c ." + \
            (" ?o ex:totalPrice ?p ." if "?p" in agg else "")
        # the ?c tiebreak makes the sub's LIMIT deterministic (ties in
        # ?t would otherwise let each engine pick a different subset)
        sublim = (" ORDER BY DESC(?t) ?c LIMIT 7"
                  if r.random() < 0.4 else "")
        outer = r.choice(["?c ex:name ?nm .",
                          '?c ex:segment "BUILDING" .',
                          "?c ex:segment ?nm ."])
        filt = (" FILTER(?t >= 10)"
                if "COUNT" in agg and r.random() < 0.5 else "")
        proj = "?nm ?t" if "?nm" in outer else "?t"
        # with ?nm projected, tie-break the top-k cut on it too
        topk = (" ORDER BY DESC(?t) ?nm LIMIT 12" if "?nm" in outer
                else " ORDER BY DESC(?t) LIMIT 12")
        tail = r.choice([topk, " ORDER BY ?t", ""])
        return (f"SELECT {proj} WHERE {{ {outer} {{ SELECT ?c {agg} "
                f"WHERE {{ {subpat[:-2]} }} GROUP BY ?c{sublim} }}"
                f"{filt} }}{tail}")


@pytest.mark.parametrize("seed", range(401, 453))
def test_fuzz_rich_pushed_equals_evaluator(spark, env, seed):
    mapping, tables, engine = env
    q = P + RichAggGen(seed).build()
    fast = _norm(answer_auto(spark, mapping, q, tables=tables).collect())
    slow = _norm(engine.sql(q).collect())
    assert fast == slow, f"divergence (seed {seed}) on:\n{q}"


# ---------------------------------------------------------------------------
# Document tier: GROUP BY straight onto the json-native collection scan
# ---------------------------------------------------------------------------

from morph_xr2rml_spark.api import materialize_auto
from morph_xr2rml_spark.examples import (MIXED_KG_MAPPING,
                                         ORDERDOC_FLAT_MAPPING,
                                         orderflat_catalog)

DOC_QUERIES = [
    ("SELECT ?pr (COUNT(*) AS ?n) WHERE { ?o ex:priority ?pr } "
     "GROUP BY ?pr ORDER BY ?pr", True),
    ("SELECT ?st (COUNT(*) AS ?n) (MIN(?c) AS ?lo) (MAX(?c) AS ?hi) "
     "WHERE { ?o ex:status ?st . ?o ex:cust ?c } GROUP BY ?st "
     "ORDER BY ?st", True),
    ('SELECT (COUNT(*) AS ?n) WHERE { ?o ex:status "P" }', True),
    ("SELECT DISTINCT ?st WHERE { ?o ex:status ?st } ORDER BY ?st", True),
    ('SELECT ?st (COUNT(*) AS ?n) WHERE { ?o ex:status ?st . '
     'FILTER(?st != "P") } GROUP BY ?st ORDER BY ?st', True),
    ("SELECT (AVG(?c) AS ?a) (COUNT(DISTINCT ?pr) AS ?np) WHERE "
     "{ ?o ex:cust ?c . ?o ex:priority ?pr . FILTER(?c > 500) }", True),
    ("SELECT DISTINCT ?o ?pr WHERE { ?o ex:priority ?pr } "
     "ORDER BY ?o LIMIT 9", True),
    # rdf:type candidacy works on the document tier too
    ("SELECT (COUNT(*) AS ?n) WHERE { ?o a ex:ODoc }", True),
    # OPTIONAL single-pattern slot works on the document tier too
    ("SELECT (COUNT(*) AS ?n) WHERE { ?o ex:status ?st . "
     "OPTIONAL { ?o ex:cust ?c } }", True),
    # UNION of flat branches on the document tier
    ("SELECT ?x (COUNT(*) AS ?n) WHERE { { ?o ex:status ?x } UNION "
     "{ ?o2 ex:priority ?x } } GROUP BY ?x ORDER BY ?x", True),
    # EXISTS / MINUS probes on the document tier
    ("SELECT ?st (COUNT(*) AS ?n) WHERE { ?o ex:status ?st . "
     "FILTER EXISTS { ?o ex:cust ?c . FILTER(?c > 1000) } } "
     "GROUP BY ?st ORDER BY ?st", True),
    ('SELECT (COUNT(*) AS ?n) WHERE { ?o ex:priority ?pr . '
     'MINUS { ?o ex:status "F" } }', True),
]


@pytest.fixture(scope="module")
def doc_env(spark):
    mapping = MappingDocument.from_text(ORDERDOC_FLAT_MAPPING)
    catalog = orderflat_catalog(spark, SF_DIR)
    full = materialize_auto(spark, mapping, catalog=catalog, dedup=False)
    return mapping, catalog, SparqlEngine(full, dedup_source=True)


@pytest.mark.parametrize("qi", range(len(DOC_QUERIES)))
def test_doc_pushed_equals_evaluator(spark, doc_env, qi):
    mapping, catalog, engine = doc_env
    q, _push = DOC_QUERIES[qi]
    fast = _norm(answer_auto(spark, mapping, P + q, catalog=catalog).collect())
    slow = _norm(engine.sql(P + q).collect())
    assert fast == slow, f"divergence on: {q}"


@pytest.mark.parametrize("qi", range(len(DOC_QUERIES)))
def test_doc_engagement(spark, doc_env, qi):
    mapping, catalog, _engine = doc_env
    q, push = DOC_QUERIES[qi]
    got = try_aggregate_pushdown_auto(spark, mapping, parse_sparql(P + q),
                                      catalog=catalog)
    assert (got is not None) == push, q


def test_doc_plan_single_scan_no_dedup(spark, doc_env):
    mapping, catalog, _e = doc_env
    df = answer_auto(spark, mapping, P +
                     "SELECT ?pr (COUNT(*) AS ?n) WHERE "
                     "{ ?o ex:priority ?pr } GROUP BY ?pr",
                     catalog=catalog)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Scan parquet") == 1
    assert "dropDuplicates" not in plan and "Union" not in plan


# iterator mappings must refuse: one subject spans several items
ITER_DOC_MAPPING = """
@prefix rr:  <http://www.w3.org/ns/r2rml#> .
@prefix rml: <http://semweb.mmlab.be/ns/rml#> .
@prefix xrr: <http://i3s.unice.fr/xr2rml#> .
@prefix ex:  <http://example.com/> .
<#It> a rr:TriplesMap;
    xrr:logicalSource [ xrr:query "db.orderflat.find({})";
                        rml:iterator "$.items.*"; xrr:uniqueRef "$.ok" ];
    rr:subjectMap [ rr:template "http://example.org/odoc/{$.ok}" ];
    rr:predicateObjectMap [ rr:predicate ex:v; rr:objectMap [ xrr:reference "$.st" ] ].
"""


def test_doc_iterator_refuses(spark, doc_env):
    _m, catalog, _e = doc_env
    mapping = MappingDocument.from_text(ITER_DOC_MAPPING)
    q = parse_sparql(P + "SELECT (COUNT(*) AS ?n) WHERE { ?o ex:v ?x }")
    assert try_aggregate_pushdown_auto(spark, mapping, q,
                                       catalog=catalog) is None


# ---------------------------------------------------------------------------
# Mixed mapping: the union spans tiers under one aggregate
# ---------------------------------------------------------------------------

CROSS_TIER_MAPPING = """
@prefix rr:  <http://www.w3.org/ns/r2rml#> .
@prefix xrr: <http://i3s.unice.fr/xr2rml#> .
@prefix ex:  <http://example.com/> .

<#TCust> a rr:TriplesMap;
    rr:logicalTable [ rr:tableName "customer"; xrr:uniqueRef "c_custkey" ];
    rr:subjectMap [ rr:template "http://example.org/customer/{c_custkey}" ];
    rr:predicateObjectMap [ rr:predicate ex:label;
                            rr:objectMap [ rr:column "c_mktsegment" ] ].

<#DOrd> a rr:TriplesMap;
    xrr:logicalSource [ xrr:query "db.orderflat.find({})"; xrr:uniqueRef "$.ok" ];
    rr:subjectMap [ rr:template "http://example.org/odoc/{$.ok}" ];
    rr:predicateObjectMap [ rr:predicate ex:label;
                            rr:objectMap [ xrr:reference "$.pr" ] ].
"""


def test_cross_tier_union_aggregate(spark, env, doc_env):
    _m, tables, _e = env
    _m2, catalog, _e2 = doc_env
    mapping = MappingDocument.from_text(CROSS_TIER_MAPPING)
    q = (P + "SELECT ?l (COUNT(*) AS ?n) WHERE { ?s ex:label ?l } "
             "GROUP BY ?l ORDER BY ?l")
    fast = answer_auto(spark, mapping, q, catalog=catalog, tables=tables)
    plan = fast._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Scan parquet") == 2      # customer + orderflat
    full = materialize_auto(spark, mapping, catalog=catalog,
                            tables=tables, dedup=False)
    slow = SparqlEngine(full, dedup_source=True).sql(q)
    assert _norm(fast.collect()) == _norm(slow.collect())
    # engagement through the auto entry
    assert try_aggregate_pushdown_auto(
        spark, mapping, parse_sparql(q), tables=tables,
        catalog=catalog) is not None


def test_cross_tier_sparql_union(spark, env, doc_env):
    # { tabular branch } UNION { document branch }: each branch's frame
    # builds on its own tier's scan, one aggregate over the bag union
    _m, tables, _e = env
    _m2, catalog, _e2 = doc_env
    mapping = MappingDocument.from_text(MIXED_KG_MAPPING)
    q = (P + "SELECT ?x (COUNT(*) AS ?n) WHERE { { ?c ex:name ?x } "
             "UNION { ?o ex:status ?x } } GROUP BY ?x "
             "ORDER BY DESC(?n) ?x LIMIT 12")
    kw = dict(catalog=catalog, tables={"customer": tables["customer"]})
    assert try_aggregate_pushdown_auto(
        spark, mapping, parse_sparql(q), **kw) is not None
    fast = answer_auto(spark, mapping, q, **kw)
    full = materialize_auto(spark, mapping, dedup=False, **kw)
    slow = SparqlEngine(full, dedup_source=True).sql(q)
    assert _norm(fast.collect()) == _norm(slow.collect())


def test_mixed_mapping_doc_only_contributor(spark, env, doc_env):
    # MIXED_KG_MAPPING: ex:status lives only in the document TM; the
    # tabular TM is irrelevant to the pattern and is never opened
    _m, tables, _e = env
    _m2, catalog, _e2 = doc_env
    mapping = MappingDocument.from_text(MIXED_KG_MAPPING)
    q = (P + "SELECT ?st (COUNT(*) AS ?n) WHERE { ?o ex:status ?st } "
             "GROUP BY ?st ORDER BY ?st")
    fast = answer_auto(spark, mapping, q, catalog=catalog,
                       tables={"customer": tables["customer"]})
    full = materialize_auto(spark, mapping, catalog=catalog,
                            tables={"customer": tables["customer"]},
                            dedup=False)
    slow = SparqlEngine(full, dedup_source=True).sql(q)
    assert _norm(fast.collect()) == _norm(slow.collect())


# ---------------------------------------------------------------------------
# Plan audits: the pushed plan is the one a SQL user would write
# ---------------------------------------------------------------------------

def test_plan_single_scan_pruned_schema(spark, env):
    mapping, tables, _e = env
    df = answer_auto(spark, mapping, P +
                     "SELECT ?seg (COUNT(*) AS ?n) (SUM(?b) AS ?s) "
                     "WHERE { ?c ex:segment ?seg . ?c ex:acctbal ?b } "
                     "GROUP BY ?seg", tables=tables)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Union" not in plan                      # no per-POM union
    assert "dropDuplicates" not in plan
    # exactly one scan, reading only the three referenced columns
    assert plan.count("Scan parquet") == 1
    import re
    schemas = re.findall(r"ReadSchema: struct<([^>]*)>", plan)
    assert len(schemas) == 1
    cols = {c.split(":")[0] for c in schemas[0].split(",")}
    assert cols == {"c_custkey", "c_mktsegment", "c_acctbal"}


def test_plan_join_tree_broadcast_no_render(spark, env):
    # orders -> customer: two pruned scans, a broadcast hash join on the
    # RAW key (no term strings before the exchange), one aggregate, no
    # union, no dedup; the orders subject template is never rendered
    mapping, tables, _e = env
    df = answer_auto(spark, mapping, P +
                     "SELECT ?seg (COUNT(?o) AS ?n) WHERE { "
                     "?o a ex:Order . ?o ex:placedBy ?c . "
                     "?c ex:segment ?seg } GROUP BY ?seg", tables=tables)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Scan parquet") == 2
    assert "Union" not in plan and "dropDuplicates" not in plan
    assert "BroadcastHashJoin" in plan
    import re
    schemas = re.findall(r"ReadSchema: struct<([^>]*)>", plan)
    cols = {c.split(":")[0] for s in schemas for c in s.split(",")}
    assert cols == {"o_orderkey", "o_custkey", "c_custkey",
                    "c_mktsegment"}
    # the orders subject IRI prefix never appears: no render pre-join
    assert "example.org/order" not in plan


def test_plan_multi_tm_unions_three_scans(spark, env):
    mapping, tables, _e = env
    df = answer_auto(spark, mapping, P +
                     "SELECT (COUNT(*) AS ?n) WHERE { ?s ex:name ?x }",
                     tables=tables)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Scan parquet") == 3          # region/nation/customer
    assert [r["n"] for r in df.collect()] == [
        _count_names(spark, tables)]


def _count_names(spark, tables):
    n = 0
    for t, c in (("region", "r_name"), ("nation", "n_name"),
                 ("customer", "c_name")):
        n += tables[t].where(f"{c} is not null").count()
    return n
