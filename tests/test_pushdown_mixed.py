"""Round-6 mixed-tier pushdown + document-tier AND-strengthening
(VERDICT r5 items 1-2).

The reference's runner factory instantiates one translator per source
and generates each source's conditions separately (MorphBaseRunnerFactory;
RDB: MorphRDBUnfolder.scala:65-97, Mongo:
MorphMongoDataSourceReader.scala:52-70).  The Spark analogue
(rewrite.constrained_plan in api.answer_auto's routed plan): ONE constraint
derivation, applied per tier — `.where` row filters / TM drops on the
tabular scans, composed find() filters on the document scans — then one
union plan under the evaluator.

Document-tier AND-strengthening: a declared xrr:uniqueRef through a
single-group template is injective with NO schema
(native.subject_renders_unique_schemaless), so constraints from sibling
patterns on the same subject variable AND into one filtered collection
scan — the tabular tier's bind_m analogue on documents.
"""

import re

import duckdb
import pytest

from morph_xr2rml_spark.api import answer_auto, materialize_auto
from morph_xr2rml_spark.examples import (MIXED_KG_MAPPING,
                                         ORDERDOC_FLAT_MAPPING,
                                         SPARQL_PUSHDOWN_DOCSEG_SQL,
                                         SPARQL_PUSHDOWN_MIXED_SQL,
                                         orderflat_catalog,
                                         sparql_pushdown_docseg,
                                         sparql_pushdown_mixed, tpch_tables)
from morph_xr2rml_spark.model import MappingDocument
from morph_xr2rml_spark.rewrite import constrained_plan, derive_tm_constraints
from morph_xr2rml_spark.sparql import SparqlEngine

SF_DIR = "/root/testdata/sf0.001"
P = "PREFIX ex: <http://example.com/>\n"


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _ancestors_of(plan: str, *needles: str) -> list[list[str]]:
    """For every operator line containing all ``needles``: the operator
    lines above it in the plan tree, nearest first."""
    nodes = []                   # (depth, operator text)
    for line in plan.splitlines():
        m = re.match(r"^([ :|]*)\+- (.*)", line)
        if m:
            nodes.append((len(m.group(1)), m.group(2)))
        elif not nodes:
            nodes.append((-1, line))   # the root operator
        # other lines continue a multi-line expression of the node above
    out = []
    for i, (depth, text) in enumerate(nodes):
        if not all(n in text for n in needles):
            continue
        chain, d = [], depth
        for pd, ptext in reversed(nodes[:i]):
            if pd < d:
                chain.append(ptext)
                d = pd
        out.append(chain)
    return out


def _duck(sql: str):
    con = duckdb.connect()
    for t in ("region", "nation", "customer", "orders", "lineitem"):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{SF_DIR}/{t}.parquet')")
    return con.execute(sql).fetchall()


# ---------------------------------------------------------------------------
# mixed-tier routing
# ---------------------------------------------------------------------------

def test_mixed_gate_matches_oracle(spark):
    got = [tuple(r) for r in sparql_pushdown_mixed(spark, SF_DIR).collect()]
    exp = [tuple(r) for r in _duck(SPARQL_PUSHDOWN_MIXED_SQL)]
    assert sorted(got) == sorted(exp) and len(got) > 0


def test_mixed_constraints_route_per_tier(spark):
    mapping = MappingDocument.from_text(MIXED_KG_MAPPING)
    tables = {"customer": tpch_tables(spark, SF_DIR)["customer"]}
    q = P + """SELECT ?o ?c ?n WHERE {
        ?o ex:placedBy ?c ; ex:status "F" .
        ?c ex:name ?n ; ex:acctbal ?a . FILTER(?a > 9000.0) }"""
    constraints = derive_tm_constraints(mapping, q, tables)
    m2, row_filters = constrained_plan(mapping, constraints)
    # document TM: constraint composed INTO the find() filter
    assert '"$renderIn": ["F"]' in m2.triples_maps["#MOrder"] \
        .logical_source.value
    # tabular TM: constraint carried as a native row filter
    assert row_filters == {
        "#MCustomer": [{"c_acctbal": ("cmp", ((">", 9000.0),))}]}


def test_mixed_both_tiers_push_to_scan(spark):
    """Plan audit: the numeric FILTER lands in the customer PARQUET scan
    as a PushedFilter (raw native types — row-group skipping at scale),
    and the literal constant lands in the order-document scan natively
    (composed find() → Column DataFilters at the scan)."""
    mapping = MappingDocument.from_text(MIXED_KG_MAPPING)
    raw_customer = spark.read.parquet(f"{SF_DIR}/customer.parquet")
    df = answer_auto(spark, mapping, P + """
        SELECT ?o ?c ?n WHERE {
            ?o ex:placedBy ?c ; ex:status "F" .
            ?c ex:name ?n ; ex:acctbal ?a .
            FILTER(?a > 9000.0)
        }""", catalog=orderflat_catalog(spark, SF_DIR),
        tables={"customer": raw_customer})
    plan = _plan(df)
    assert "GreaterThan(c_acctbal,9000.0)" in plan     # parquet PushedFilter
    # composed find() evaluated natively at the order-doc source, on its
    # own get_json_object Filter line below the spread (repartition) —
    # it must be present (native, pre-parse), and the doc source must
    # still be read
    doc_scans = [l for l in plan.splitlines()
                 if "FileScan" in l and "orders.parquet" in l]
    assert doc_scans
    # the composed find() must target the constrained field natively ...
    assert "get_json_object" in plan and "$.st" in plan
    # ... and sit below the from_json parse: it prunes documents before
    # they are parsed, not after
    chains = _ancestors_of(plan, "Filter", "get_json_object", "$.st")
    assert chains
    for chain in chains:
        assert any("from_json" in op for op in chain), chain
    # sources never mentioned by the mapping are not read
    for absent in ("nation.parquet", "region.parquet", "lineitem.parquet"):
        assert absent not in plan


MIXED_DIFFERENTIAL = [
    # constraints on both tiers
    'SELECT ?o ?c ?n WHERE { ?o ex:placedBy ?c ; ex:status "F" . '
    "?c ex:name ?n ; ex:acctbal ?a . FILTER(?a > 9000.0) }",
    # doc-side point subject
    "SELECT ?p ?x WHERE { <http://example.org/odoc/7> ?p ?x }",
    # tabular-side point subject
    "SELECT ?p ?x WHERE { <http://example.org/customer/5> ?p ?x }",
    # doc-side literal only
    'SELECT ?o WHERE { ?o ex:status "P" }',
    # tabular literal + doc join var unconstrained
    "SELECT ?o ?n WHERE { ?o ex:placedBy ?c . ?c ex:name ?n . "
    "?c ex:acctbal ?a . FILTER(?a < 1000.0) }",
    # object-position constant crossing tiers
    "SELECT ?o WHERE { ?o ex:placedBy <http://example.org/customer/3> }",
    # class patterns
    "SELECT ?s WHERE { ?s a ex:Customer }",
    "SELECT ?s WHERE { ?s a ex:Order . ?s ex:status ?st . "
    'FILTER(?st = "F") }',
    # unsatisfiable
    "SELECT ?p WHERE { <http://example.org/odoc/99999999> ?p ?x }",
    'SELECT ?o WHERE { ?o ex:status "NOPE" }',
    # OPTIONAL across tiers
    'SELECT ?o ?n WHERE { ?o ex:status "F" . '
    "OPTIONAL { ?o ex:placedBy ?c . ?c ex:name ?n } }",
]


@pytest.fixture(scope="module")
def mixed_env(spark):
    mapping = MappingDocument.from_text(MIXED_KG_MAPPING)
    tables = {"customer": tpch_tables(spark, SF_DIR)["customer"]}
    catalog = orderflat_catalog(spark, SF_DIR)
    full = materialize_auto(spark, mapping, catalog=catalog, tables=tables,
                            dedup=False)
    engine = SparqlEngine(full, dedup_source=True)
    return mapping, tables, catalog, engine


@pytest.mark.parametrize("qi", range(len(MIXED_DIFFERENTIAL)))
def test_mixed_rewritten_equals_full_scan(spark, mixed_env, qi):
    mapping, tables, catalog, engine = mixed_env
    q = P + MIXED_DIFFERENTIAL[qi]
    fast = {tuple(r) for r in
            answer_auto(spark, mapping, q, catalog=catalog,
                        tables=tables).collect()}
    slow = {tuple(r) for r in engine.sql(q).collect()}
    assert fast == slow, f"divergence on: {MIXED_DIFFERENTIAL[qi]}"


# ---------------------------------------------------------------------------
# document-tier AND-strengthening
# ---------------------------------------------------------------------------

def test_docseg_gate_matches_oracle(spark):
    got = [tuple(r) for r in sparql_pushdown_docseg(spark, SF_DIR).collect()]
    exp = [tuple(r) for r in _duck(SPARQL_PUSHDOWN_DOCSEG_SQL)]
    assert sorted(got) == sorted(exp) and len(got) > 0


def test_doc_and_strengthening_composes_one_scan(spark):
    """The "F" constraint from pattern 1 ANDs into the unconstrained
    sibling pattern: the composed find() carries it, so EVERY
    collection scan in the plan is filtered (one filtered scan per
    self-join branch, no full scan)."""
    mapping = MappingDocument.from_text(ORDERDOC_FLAT_MAPPING)
    constraints = derive_tm_constraints(
        mapping, P + 'SELECT ?s ?c WHERE { ?s ex:status "F" . '
                     "?s ex:cust ?c }")
    assert constraints["#ODoc"] == [{"$.st": ("lexeq", "F")}]
    df = sparql_pushdown_docseg(spark, SF_DIR)
    plan = _plan(df)
    scans = [l for l in plan.splitlines() if "FileScan" in l]
    assert scans
    # the composed filter shows as a native get_json_object Filter below
    # the spread (repartition); it must be present, target the
    # constrained field, and carry the render-mirror
    # equality (the $renderIn compilation), proving the constraint is
    # applied at the source rather than post-hoc by the evaluator
    assert "get_json_object" in plan and "$.st" in plan


def test_no_uniqueref_refuses_and_strengthening(spark):
    """Adversarial guard: without xrr:uniqueRef the injectivity proof
    fails, the unconstrained pattern forces a full scan (None), and the
    answer still matches — refusal, not wrong pruning."""
    text = ORDERDOC_FLAT_MAPPING.replace('; xrr:uniqueRef "$.ok"', "")
    mapping = MappingDocument.from_text(text)
    assert 'uniqueRef' not in text
    constraints = derive_tm_constraints(
        mapping, P + 'SELECT ?s ?c WHERE { ?s ex:status "F" . '
                     "?s ex:cust ?c }")
    assert constraints["#ODoc"] is None


def test_iterator_tm_refuses_schemaless_uniqueness():
    """An iterator TM emits several rows per document — the schema-free
    proof must refuse even with a declared uniqueRef."""
    from morph_xr2rml_spark.examples import LINEITEM_JSON_MAPPING
    from morph_xr2rml_spark.native import subject_renders_unique_schemaless
    text = LINEITEM_JSON_MAPPING.replace(
        'xrr:query "db.orderdocs.find({})";',
        'xrr:query "db.orderdocs.find({})"; xrr:uniqueRef "$.ok";')
    mapping = MappingDocument.from_text(text)
    tm = mapping.triples_maps["#Lines"]
    assert tm.logical_source.unique_refs
    assert not subject_renders_unique_schemaless(tm)


# ---------------------------------------------------------------------------
# document-tier string-pattern pushdown ($renderPat)
# ---------------------------------------------------------------------------

def test_docpat_gate_matches_oracle(spark):
    from morph_xr2rml_spark.examples import (SPARQL_PUSHDOWN_DOCPAT_SQL,
                                             sparql_pushdown_docpat)
    got = [tuple(r) for r in sparql_pushdown_docpat(spark, SF_DIR).collect()]
    exp = [tuple(r) for r in _duck(SPARQL_PUSHDOWN_DOCPAT_SQL)]
    assert sorted(got) == sorted(exp) and len(got) > 0


def test_docpat_composes_renderpat_and_stays_native(spark):
    mapping = MappingDocument.from_text(ORDERDOC_FLAT_MAPPING)
    constraints = derive_tm_constraints(
        mapping, P + "SELECT ?s WHERE { ?s ex:priority ?c . "
                     'FILTER STRSTARTS(STR(?c), "1-URG") }')
    assert constraints["#ODoc"] == [
        {"$.pr": ("lexpat", "strstarts", "1-URG")}]
    m2, _ = constrained_plan(mapping, constraints)
    find = m2.triples_maps["#ODoc"].logical_source.value
    assert '"$renderPat": ["strstarts", "1-URG"]' in find
    from morph_xr2rml_spark.sources import mongo_filter_sql
    from morph_xr2rml_spark.model import parse_mongo_query
    _coll, ftext = parse_mongo_query(find)
    # stays json-native compilable
    assert mongo_filter_sql(ftext, "content") is not None


DOC_PAT_DIFFERENTIAL = [
    'SELECT ?s ?c WHERE { ?s ex:priority ?c . '
    'FILTER STRSTARTS(STR(?c), "1-URG") }',
    'SELECT ?s ?c WHERE { ?s ex:priority ?c . '
    'FILTER STRENDS(STR(?c), "ENT") }',
    'SELECT ?s ?c WHERE { ?s ex:priority ?c . '
    'FILTER(CONTAINS(STR(?c), "HIGH")) }',
    # numeric-valued field: raw lexical + canonical arm must agree
    'SELECT ?s ?c WHERE { ?s ex:cust ?c . '
    'FILTER(CONTAINS(STR(?c), "12")) }',
    # pattern no document matches
    'SELECT ?s WHERE { ?s ex:priority ?c . '
    'FILTER STRSTARTS(STR(?c), "9-NOPE") }',
    # combined with AND-strengthened sibling pattern
    'SELECT ?s ?k WHERE { ?s ex:priority ?c . ?s ex:cust ?k . '
    'FILTER STRSTARTS(STR(?c), "5-LOW") }',
    # regex mandatory-literal → $renderPat (r6)
    'SELECT ?s ?c WHERE { ?s ex:priority ?c . '
    'FILTER regex(STR(?c), "^1-URG") }',
    'SELECT ?s ?c WHERE { ?s ex:priority ?c . '
    'FILTER regex(?c, "ENT$") }',
    'SELECT ?s ?c WHERE { ?s ex:priority ?c . '
    'FILTER regex(?c, "^2-.IGH") }',
    # 'i' flag refuses pushdown but must still agree
    'SELECT ?s ?c WHERE { ?s ex:priority ?c . '
    'FILTER regex(?c, "^1-urg", "i") }',
    # type facets over document term maps (r6)
    "SELECT ?s ?c WHERE { ?s ex:priority ?c . FILTER(isLiteral(?c)) }",
    "SELECT ?s ?c WHERE { ?s ex:priority ?c . FILTER(isIRI(?c)) }",
    'SELECT ?s ?c WHERE { ?s ex:priority ?c . FILTER(LANG(?c) = "en") }',
    # BIND constant propagation composes into find() (r6)
    'SELECT ?s WHERE { BIND("1-URGENT" AS ?c) ?s ex:priority ?c }',
    'SELECT ?k WHERE { BIND("2-HIGH" AS ?c) ?s ex:priority ?c . '
    "?s ex:cust ?k }",
]


@pytest.fixture(scope="module")
def doc_env(spark):
    from morph_xr2rml_spark.api import answer_auto
    mapping = MappingDocument.from_text(ORDERDOC_FLAT_MAPPING)
    catalog = orderflat_catalog(spark, SF_DIR)
    full = materialize_auto(spark, mapping, catalog=catalog, dedup=False)
    return mapping, catalog, SparqlEngine(full, dedup_source=True)


@pytest.mark.parametrize("qi", range(len(DOC_PAT_DIFFERENTIAL)))
def test_doc_pat_rewritten_equals_full_scan(spark, doc_env, qi):
    from morph_xr2rml_spark.api import answer_auto
    mapping, catalog, engine = doc_env
    q = P + DOC_PAT_DIFFERENTIAL[qi]
    fast = {tuple(r) for r in
            answer_auto(spark, mapping, q, catalog=catalog).collect()}
    slow = {tuple(r) for r in engine.sql(q).collect()}
    assert fast == slow, f"divergence on: {DOC_PAT_DIFFERENTIAL[qi]}"


def test_renderpat_python_fallback_parity():
    """The Python find() fallback and the SQL find() compiler accept
    the same documents for $renderPat."""
    from morph_xr2rml_spark.mongo_filter import compile_filter
    f = compile_filter({"pr": {"$renderPat": ["strstarts", "1-URG"]}})
    assert f({"pr": "1-URGENT"})
    assert f({"pr": " 1-URGENT "})      # strip mirror
    assert not f({"pr": "2-HIGH"})
    assert not f({})
    g = compile_filter({"ck": {"$renderPat": ["contains", "000"]}})
    assert g({"ck": 10001})             # canonical lexical '10001'? no —
    # 10001 has '000' inside: 1_000_1 → contains
    assert not g({"ck": 12})
    h = compile_filter({"v": {"$renderPat": ["contains", "000"]}})
    assert h({"v": 1e3})                # canonical '1000.0' (raw '1e3'
    # would miss — the numeric arm keeps it)


def test_wildcard_key_never_unsat():
    """Two different captures on a multi-valued (wildcard) reference can
    coexist in one document — _conj_merge must not declare unsat."""
    from morph_xr2rml_spark.rewrite import _conj_merge
    conj = {"$.xs.*": "1"}
    assert _conj_merge(conj, {"$.xs.*": "2"})       # no unsat
    assert conj == {"$.xs.*": "1"}                  # superset kept
    scalar = {"$.x": "1"}
    assert not _conj_merge(scalar, {"$.x": "2"})    # scalar: still unsat
