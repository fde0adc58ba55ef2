"""Round-5 literal-constant source pushdown (VERDICT r4 item 2).

The reference's genCond generates Equals conditions on literal references
(MorphBaseQueryTranslator.scala:227-305) and its RDB translator pushes
SPARQL FILTER comparisons into the SQL WHERE clause
(MorphRDBQueryTranslator.scala:988+).  The Spark analogue: object-position
literal constants and numeric comparison FILTERs invert through the
mapping into source predicates evaluated AT THE SCAN (PushedFilters when
the column's native type allows, DataFilters over the cast otherwise),
and TMs that cannot emit the predicate are eliminated from the plan.
"""

import duckdb
import pytest

from morph_xr2rml_spark.api import answer_auto
from morph_xr2rml_spark.examples import (SPARQL_PUSHDOWN_LIT_SQL,
                                         SPARQL_PUSHDOWN_SEG_SQL,
                                         TPCH_KG_MAPPING, sparql_pushdown_lit,
                                         sparql_pushdown_seg, tpch_tables)
from morph_xr2rml_spark.model import MappingDocument

SF_DIR = "/root/testdata/sf0.001"
PREFIX = "PREFIX ex: <http://example.com/>\n"


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _duck(sql: str):
    con = duckdb.connect()
    for t in ("region", "nation", "customer", "orders", "lineitem"):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{SF_DIR}/{t}.parquet')")
    return con.execute(sql).fetchall()


def test_comparison_filter_reaches_scan_and_prunes_tms(spark):
    df = sparql_pushdown_lit(spark, SF_DIR)
    plan = _plan(df)
    scans = [l for l in plan.splitlines() if "FileScan" in l]
    assert all("orders.parquet" in l for l in scans)
    for absent in ("customer.parquet", "nation.parquet", "region.parquet",
                   "lineitem.parquet"):
        assert absent not in plan
    # the comparison is evaluated at the scan (DataFilters over the
    # decimal cast; the cast exists only for oracle-stable lexical forms)
    assert "> 200000" in plan
    got = [(r.o, r.p) for r in df.collect()]
    exp = [(r[0], r[1]) for r in _duck(SPARQL_PUSHDOWN_LIT_SQL)]
    assert sorted(got) == sorted(exp) and len(got) > 0


def test_comparison_pushed_to_parquet_on_native_types(spark):
    """Over tables read with their native parquet types (no decimal
    cast), the derived comparison lands in PushedFilters verbatim —
    parquet row-group statistics can skip data at 100 TB."""
    mapping = MappingDocument.from_text(TPCH_KG_MAPPING)
    raw = {n: spark.read.parquet(f"{SF_DIR}/{n}.parquet")
           for n in ("region", "nation", "customer", "orders", "lineitem")}
    df = answer_auto(spark, mapping, PREFIX + """
        SELECT ?o WHERE { ?o ex:totalPrice ?p . FILTER(?p > 200000.0) }""",
                     tables=raw)
    plan = _plan(df)
    assert "GreaterThan(o_totalprice,200000.0)" in plan
    assert df.count() == len(_duck(
        "SELECT 1 FROM orders WHERE o_totalprice > 200000.0"))


def test_literal_equality_prunes_scan(spark):
    df = sparql_pushdown_seg(spark, SF_DIR)
    plan = _plan(df)
    for absent in ("orders.parquet", "nation.parquet", "region.parquet",
                   "lineitem.parquet"):
        assert absent not in plan
    assert "BUILDING" in plan          # lexeq filter made it into the scan
    got = [(r.c, r.n) for r in df.collect()]
    exp = [(r[0], r[1]) for r in _duck(SPARQL_PUSHDOWN_SEG_SQL)]
    assert sorted(got) == sorted(exp) and len(got) > 0


def test_values_literal_disjunction(spark):
    mapping = MappingDocument.from_text(TPCH_KG_MAPPING)
    tables = tpch_tables(spark, SF_DIR)
    df = answer_auto(spark, mapping, PREFIX + """
        SELECT ?c ?s WHERE {
            ?c ex:segment ?s .
            VALUES ?s { "BUILDING" "MACHINERY" }
        } ORDER BY ?c""", tables=tables)
    exp = _duck("""
        SELECT '<http://example.org/customer/' || c_custkey || '>',
               '"' || c_mktsegment || '"'
        FROM customer WHERE c_mktsegment IN ('BUILDING','MACHINERY')
        ORDER BY 1""")
    assert sorted((r.c, r.s) for r in df.collect()) == sorted((r[0], r[1]) for r in exp)


def test_numeric_filter_on_string_pred_sound(spark):
    # ex:name binds string literals: FILTER(?n > 5) errors→false for every
    # binding; the pushed try_cast predicate must agree (zero rows), not
    # crash or drop the TM unsoundly
    mapping = MappingDocument.from_text(TPCH_KG_MAPPING)
    tables = tpch_tables(spark, SF_DIR)
    df = answer_auto(spark, mapping, PREFIX + """
        SELECT ?c WHERE { ?c ex:name ?n . FILTER(?n > 5) }""", tables=tables)
    assert df.count() == 0


def test_typed_literal_object_constant(spark):
    # exact typed-literal object: "15"^^xsd:integer via a column om —
    # value-equality pushdown on the int column (true PushedFilters)
    text = """
    @prefix rr: <http://www.w3.org/ns/r2rml#> .
    @prefix ex: <http://example.com/> .
    <#N> a rr:TriplesMap;
        rr:logicalTable [ rr:tableName "nation" ];
        rr:subjectMap [ rr:template "http://example.org/nation/{n_nationkey}" ];
        rr:predicateObjectMap [ rr:predicate ex:key;
            rr:objectMap [ rr:column "n_nationkey" ] ].
    """
    mapping = MappingDocument.from_text(text)
    raw = {"nation": spark.read.parquet(f"{SF_DIR}/nation.parquet")}
    df = answer_auto(spark, mapping, PREFIX +
                     'PREFIX xsd: <http://www.w3.org/2001/XMLSchema#>\n'
                     'SELECT ?s WHERE { ?s ex:key "15"^^xsd:integer }',
                     tables=raw)
    plan = _plan(df)
    assert "EqualTo(n_nationkey,15)" in plan
    assert [r.s for r in df.collect()] == ["<http://example.org/nation/15>"]


def test_conjunctive_range_filter(spark):
    mapping = MappingDocument.from_text(TPCH_KG_MAPPING)
    tables = tpch_tables(spark, SF_DIR)
    df = answer_auto(spark, mapping, PREFIX + """
        SELECT ?o WHERE {
            ?o ex:totalPrice ?p .
            FILTER(?p >= 100000.0 && ?p < 150000.0)
        }""", tables=tables)
    exp = _duck("""SELECT 1 FROM orders
                   WHERE CAST(o_totalprice AS DECIMAL(12,2)) >= 100000.0
                     AND CAST(o_totalprice AS DECIMAL(12,2)) < 150000.0""")
    assert df.count() == len(exp) > 0


# ---------------------------------------------------------------------------
# Cross-pattern constraint propagation (bind_m analogue)
# ---------------------------------------------------------------------------

def test_cross_pattern_propagation_prunes_and_strengthens(spark):
    """?c ex:segment "BUILDING" pins ?c to filtered customers: the
    ex:name pattern must NOT force full scans of nation/region (candidacy
    pruning via disjoint subject spaces) nor of customer (constraint
    AND-strengthening via the unique subject key)."""
    mapping = MappingDocument.from_text(TPCH_KG_MAPPING)
    tables = tpch_tables(spark, SF_DIR)
    df = answer_auto(spark, mapping, PREFIX + """
        SELECT ?c ?n WHERE {
            ?c ex:segment "BUILDING" .
            ?c ex:name ?n .
        } ORDER BY ?c""", tables=tables)
    plan = _plan(df)
    for absent in ("nation.parquet", "region.parquet", "orders.parquet"):
        assert absent not in plan
    # the segment filter reaches the plan (scan-stage Filter; the lexeq
    # mirror is a replace-chain expression, so it rides above the
    # FileScan rather than inside parquet PushedFilters)
    assert "BUILDING" in plan
    got = [(r.c, r.n) for r in df.collect()]
    exp = [(r[0], r[1]) for r in _duck("""
        SELECT '<http://example.org/customer/' || c_custkey || '>',
               '"' || c_name || '"'
        FROM customer WHERE c_mktsegment = 'BUILDING' ORDER BY 1""")]
    assert sorted(got) == sorted(exp) and len(got) > 0


def test_propagation_requires_unique_subject(spark):
    """Without xrr:uniqueRef the subject may repeat across rows, so
    AND-strengthening would be unsound — the ex:name pattern must fall
    back to an unconstrained customer scan (correctness over speed)."""
    from morph_xr2rml_spark.rewrite import derive_tm_constraints
    text = TPCH_KG_MAPPING.replace('; xrr:uniqueRef "c_custkey"', "")
    mapping = MappingDocument.from_text(text)
    tables = tpch_tables(spark, SF_DIR)
    cons = derive_tm_constraints(mapping, PREFIX + """
        SELECT ?c ?n WHERE { ?c ex:segment "BUILDING" . ?c ex:name ?n }""",
        tables)
    assert cons["#Customer"] is None      # full scan: sound fallback
    assert cons["#Nation"] == []          # candidacy pruning still applies


def test_propagation_requires_disjoint_spaces(spark):
    """Two TMs sharing a subject template: a pattern served by one must
    not prune the other (a binding can mix triples from both)."""
    from morph_xr2rml_spark.rewrite import derive_tm_constraints
    text = """
    @prefix rr:  <http://www.w3.org/ns/r2rml#> .
    @prefix xrr: <http://i3s.unice.fr/xr2rml#> .
    @prefix ex:  <http://example.com/> .
    <#A> a rr:TriplesMap;
        rr:logicalTable [ rr:tableName "customer"; xrr:uniqueRef "c_custkey" ];
        rr:subjectMap [ rr:template "http://example.org/customer/{c_custkey}" ];
        rr:predicateObjectMap [ rr:predicate ex:seg; rr:objectMap [ rr:column "c_mktsegment" ] ].
    <#B> a rr:TriplesMap;
        rr:logicalTable [ rr:tableName "customer"; xrr:uniqueRef "c_custkey" ];
        rr:subjectMap [ rr:template "http://example.org/customer/{c_custkey}" ];
        rr:predicateObjectMap [ rr:predicate ex:name; rr:objectMap [ rr:column "c_name" ] ].
    """
    mapping = MappingDocument.from_text(text)
    tables = tpch_tables(spark, SF_DIR)
    cons = derive_tm_constraints(mapping, PREFIX + """
        SELECT ?c ?n WHERE { ?c ex:seg "BUILDING" . ?c ex:name ?n }""",
        tables)
    # B emits no ex:seg, but its subjects overlap A's: it must survive
    # (unconstrained) to serve the ex:name pattern
    assert cons["#B"] is None
    assert cons["#A"] == [{"c_mktsegment": ("lexeq", "BUILDING")}]


def test_propagation_values_multi_constant_sound(spark):
    """VALUES with several subject constants: per-value OR must survive
    (no unsound AND of mutually-exclusive constants)."""
    mapping = MappingDocument.from_text(TPCH_KG_MAPPING)
    tables = tpch_tables(spark, SF_DIR)
    df = answer_auto(spark, mapping, PREFIX + """
        SELECT ?c ?n WHERE {
            ?c ex:name ?n .
            VALUES ?c { <http://example.org/customer/5>
                        <http://example.org/customer/9> }
        } ORDER BY ?c""", tables=tables)
    got = [(r.c, r.n) for r in df.collect()]
    exp = [(r[0], r[1]) for r in _duck("""
        SELECT '<http://example.org/customer/' || c_custkey || '>',
               '"' || c_name || '"'
        FROM customer WHERE c_custkey IN (5, 9) ORDER BY 1""")]
    assert sorted(got) == sorted(exp) and len(got) == 2


def test_propagation_optional_strengthened(spark):
    """An OPTIONAL pattern on the pinned variable inherits the variable's
    conjunction (optional rows only matter joined to required bindings)
    — and the semantics stay correct."""
    mapping = MappingDocument.from_text(TPCH_KG_MAPPING)
    tables = tpch_tables(spark, SF_DIR)
    df = answer_auto(spark, mapping, PREFIX + """
        SELECT ?c ?b WHERE {
            ?c ex:segment "BUILDING" .
            OPTIONAL { ?c ex:acctbal ?b }
        } ORDER BY ?c""", tables=tables)
    got = [(r.c, r.b) for r in df.collect()]
    exp = [(r[0], r[1]) for r in _duck("""
        SELECT '<http://example.org/customer/' || c_custkey || '>',
               '"' || CAST(c_acctbal AS DECIMAL(12,2))
                   || '"^^<http://www.w3.org/2001/XMLSchema#decimal>'
        FROM customer WHERE c_mktsegment = 'BUILDING' ORDER BY 1""")]
    assert sorted(got) == sorted(exp) and len(got) > 0


# ---------------------------------------------------------------------------
# Round-5 breadth: OR'd subject equalities, multi-var VALUES, sequence-
# path first-hop constraints
# ---------------------------------------------------------------------------

def test_or_subject_equalities_promote(spark):
    from morph_xr2rml_spark.rewrite import derive_tm_constraints
    mapping = MappingDocument.from_text(TPCH_KG_MAPPING)
    cons = derive_tm_constraints(mapping, PREFIX + """
        SELECT ?p ?o WHERE { ?s ?p ?o .
            FILTER(?s = <http://example.org/order/1>
                || ?s = <http://example.org/order/2>) }""")
    assert cons["#Orders"] == [{"o_orderkey": "1"}, {"o_orderkey": "2"}]
    assert cons["#Customer"] == []          # cannot render order/ subjects
    # plan + parity: both keys as an OR'd scan predicate
    tables = tpch_tables(spark, SF_DIR)
    df = answer_auto(spark, mapping, PREFIX + """
        SELECT ?o WHERE { ?s ex:totalPrice ?o .
            FILTER(?s = <http://example.org/order/1>
                || ?s = <http://example.org/order/2>) } ORDER BY ?o""",
                     tables=tables)
    exp = _duck("""
        SELECT '"' || CAST(o_totalprice AS DECIMAL(12,2))
               || '"^^<http://www.w3.org/2001/XMLSchema#decimal>'
        FROM orders WHERE o_orderkey IN (1, 2) ORDER BY 1""")
    assert sorted(r.o for r in df.collect()) == sorted(r[0] for r in exp)
    assert len(exp) == 2


def test_multi_var_values_projects_per_variable(spark):
    mapping = MappingDocument.from_text(TPCH_KG_MAPPING)
    tables = tpch_tables(spark, SF_DIR)
    df = answer_auto(spark, mapping, PREFIX + """
        SELECT ?c ?s WHERE { ?c ex:segment ?s .
            VALUES (?c ?s) { (<http://example.org/customer/5> UNDEF)
                             (<http://example.org/customer/9> UNDEF) } }
        ORDER BY ?c""", tables=tables)
    plan = _plan(df)
    for absent in ("orders.parquet", "nation.parquet", "region.parquet"):
        assert absent not in plan
    exp = _duck("""
        SELECT '<http://example.org/customer/' || c_custkey || '>',
               '"' || c_mktsegment || '"'
        FROM customer WHERE c_custkey IN (5, 9) ORDER BY 1""")
    assert sorted((r.c, r.s) for r in df.collect()) == sorted((a, b) for a, b in exp)
    assert len(exp) == 2


def test_seq_path_first_hop_constrained(spark):
    """<order/1> ex:placedBy/ex:name ?n — the first hop is anchored at
    the constant subject, so the Orders scan carries o_orderkey = 1;
    later steps stay unconstrained (VERDICT r4 item 6)."""
    from morph_xr2rml_spark.rewrite import derive_tm_constraints
    mapping = MappingDocument.from_text(TPCH_KG_MAPPING)
    cons = derive_tm_constraints(mapping, PREFIX + """
        SELECT ?n WHERE {
            <http://example.org/order/1> ex:placedBy/ex:name ?n }""")
    assert cons["#Orders"] == [{"o_orderkey": "1"}]
    assert cons["#Customer"] is None        # serves the second hop
    tables = tpch_tables(spark, SF_DIR)
    df = answer_auto(spark, mapping, PREFIX + """
        SELECT ?n WHERE {
            <http://example.org/order/1> ex:placedBy/ex:name ?n }""",
                     tables=tables)
    exp = _duck("""
        SELECT '"' || c_name || '"' FROM customer
        WHERE c_custkey = (SELECT o_custkey FROM orders
                           WHERE o_orderkey = 1)""")
    assert sorted(r.n for r in df.collect()) == sorted(r[0] for r in exp)
    assert len(exp) == 1


def test_closure_paths_still_unconstrained(spark):
    """p+ / p* must not inherit first-hop constraints (the closure walks
    subjects other than the constant)."""
    from morph_xr2rml_spark.rewrite import derive_tm_constraints
    mapping = MappingDocument.from_text(TPCH_KG_MAPPING)
    cons = derive_tm_constraints(mapping, PREFIX + """
        SELECT ?x WHERE { <http://example.org/nation/0> ex:inRegion+ ?x }""")
    assert cons["#Nation"] is None          # full scan for the closure


# ---------------------------------------------------------------------------
# Round-5 doc-tier literal pushdown: $renderIn / $numCmp find() operators
# ---------------------------------------------------------------------------

DOC_MAPPING = """
@prefix rr:  <http://www.w3.org/ns/r2rml#> .
@prefix xrr: <http://i3s.unice.fr/xr2rml#> .
@prefix ex:  <http://example.com/> .
<#P> a rr:TriplesMap;
    xrr:logicalSource [ xrr:query "db.products.find({})" ];
    rr:subjectMap [ rr:template "http://x/p/{$.id}" ];
    rr:predicateObjectMap [ rr:predicate ex:name; rr:objectMap [ xrr:reference "$.name" ] ];
    rr:predicateObjectMap [ rr:predicate ex:price; rr:objectMap [ xrr:reference "$.price" ] ].
"""


def _products_catalog(spark):
    import json as _json
    from morph_xr2rml_spark.sources import SourceCatalog
    docs = [_json.dumps({"id": i, "name": f"n{i}", "price": i * 10.5})
            for i in range(10)]
    # trim edge + numeric-looking string + a raw non-canonical spelling
    docs.append(_json.dumps({"id": 99, "name": " padded ", "price": "77"}))
    docs.append('{"id": 98, "name": "n98", "price": 7.50}')
    df = spark.createDataFrame([(d,) for d in docs], "content string")
    return SourceCatalog().register_collection("products", df)


def test_doc_literal_composes_renderin(spark):
    from morph_xr2rml_spark.rewrite import (constrained_plan,
                                            derive_tm_constraints)
    from morph_xr2rml_spark.sources import mongo_filter_sql
    mapping = MappingDocument.from_text(DOC_MAPPING)
    cons = derive_tm_constraints(mapping,
                                 PREFIX + 'SELECT ?s WHERE { ?s ex:name "n3" }')
    assert cons["#P"] == [{"$.name": ("lexeq", "n3")}]
    m2, _ = constrained_plan(mapping, cons)
    find = m2.triples_maps["#P"].logical_source.value
    assert '"$renderIn": ["n3"]' in find
    # the composed filter stays NATIVELY compilable (json tier keeps it)
    assert mongo_filter_sql(find.split("find(", 1)[1][:-1],
                            "content") is not None


def test_doc_literal_answer_and_edges(spark):
    from morph_xr2rml_spark.api import answer_auto
    mapping = MappingDocument.from_text(DOC_MAPPING)
    cat = _products_catalog(spark)
    got = answer_auto(spark, mapping,
                      PREFIX + 'SELECT ?s WHERE { ?s ex:name "n3" }',
                      catalog=cat)
    assert [r.s for r in got.collect()] == ["<http://x/p/3>"]
    # literal_trim: " padded " renders "padded" — the mirror must keep it
    got = answer_auto(spark, mapping,
                      PREFIX + 'SELECT ?s WHERE { ?s ex:name "padded" }',
                      catalog=cat)
    assert [r.s for r in got.collect()] == ["<http://x/p/99>"]
    # raw 7.50 renders "7.5": the numeric arm must keep the doc
    got = answer_auto(spark, mapping, PREFIX +
                      'SELECT ?s WHERE { ?s ex:price "7.5" }',
                      catalog=cat)
    assert [r.s for r in got.collect()] == ["<http://x/p/98>"]


def test_doc_numcmp_matches_engine_semantics(spark):
    from morph_xr2rml_spark.api import answer_auto
    mapping = MappingDocument.from_text(DOC_MAPPING)
    cat = _products_catalog(spark)
    got = answer_auto(spark, mapping, PREFIX + """
        SELECT ?s WHERE { ?s ex:price ?p . FILTER(?p > 70) } ORDER BY ?s""",
                      catalog=cat)
    # 73.5, 84.0, 94.5 AND the plain string "77" (numeric_value
    # semantics); ORDER BY compares the IRI itself (SPARQL §15.4, r6),
    # so p/9 sorts before p/99 (codepoint order of the bracketless IRI)
    assert [r.s for r in got.collect()] == [
        "<http://x/p/7>", "<http://x/p/8>", "<http://x/p/9>",
        "<http://x/p/99>"]


def test_doc_pushdown_guard_nondefault_cfg(spark):
    """With literal_trim off the $renderIn mirror would be wrong — the
    answer must fall back to a full scan and stay correct."""
    from morph_xr2rml_spark.api import answer_auto
    from morph_xr2rml_spark.translate import EngineConfig
    mapping = MappingDocument.from_text(DOC_MAPPING)
    cat = _products_catalog(spark)
    cfg = EngineConfig(literal_trim=False)
    got = answer_auto(spark, mapping, PREFIX +
                      'SELECT ?s WHERE { ?s ex:name " padded " }',
                      catalog=cat, cfg=cfg)
    assert [r.s for r in got.collect()] == ["<http://x/p/99>"]


def test_doc_iterator_refs_stay_unpushed(spark):
    """Iterator-relative references are not document-level fields: the
    constraint must be skipped (full scan), never mis-pushed."""
    from morph_xr2rml_spark.examples import LINEITEM_JSON_MAPPING
    from morph_xr2rml_spark.rewrite import (constrained_plan,
                                            derive_tm_constraints)
    mapping = MappingDocument.from_text(LINEITEM_JSON_MAPPING)
    cons = derive_tm_constraints(mapping, PREFIX +
        'PREFIX xsd: <http://www.w3.org/2001/XMLSchema#>\n'
        'SELECT ?s WHERE { ?s ex:qty "5"^^xsd:integer }')
    m2, _ = constrained_plan(mapping, cons)
    assert "$renderIn" not in m2.triples_maps["#Lines"].logical_source.value


def test_describe_pushdown_constrains_both_positions(spark):
    """IRI-only DESCRIBE (r5): the resource inverts in subject AND
    object position — nation scan filtered, customer scan filtered via
    the ROM transfer, orders/region eliminated; result identical to the
    full-scan evaluation."""
    from conftest import tier_pool
    from morph_xr2rml_spark.rewrite import derive_tm_constraints
    from morph_xr2rml_spark.sparql import SparqlEngine
    mapping = MappingDocument.from_text(TPCH_KG_MAPPING)
    cons = derive_tm_constraints(mapping,
                                 "DESCRIBE <http://example.org/nation/0>")
    assert cons["#Nation"] == [{"n_nationkey": "0"}]
    assert cons["#Customer"] == [{"c_nationkey": "0"}]
    assert cons["#Orders"] == [] and cons["#Region"] == []
    tables = tpch_tables(spark, SF_DIR)
    fast = answer_auto(spark, mapping,
                       "DESCRIBE <http://example.org/nation/0>",
                       tables=tables)
    plan = _plan(fast)
    # Orders is gone entirely; Region's OWN branches are eliminated (its
    # scans in the plan are only the inRegion ROM parent-key probes,
    # which must stay complete), and every nation/customer scan carries
    # the inverted key filter
    assert "orders.parquet" not in plan
    region_scan_cols = [l.split("[", 1)[1].split("]")[0]
                        for l in plan.splitlines()
                        if "FileScan" in l and "region.parquet" in l]
    assert region_scan_cols and all(
        c.startswith("r_regionkey#") and "," not in c
        for c in region_scan_cols)
    assert "(n_nationkey" in plan and "(c_nationkey" in plan
    full = tier_pool(spark, mapping, "native", tables, fused=False,
                     dedup=False)
    slow = SparqlEngine(full, dedup_source=True).sql(
        "DESCRIBE <http://example.org/nation/0>")
    assert sorted(map(tuple, fast.collect())) == \
        sorted(map(tuple, slow.collect()))


def test_describe_var_stays_unconstrained(spark):
    from morph_xr2rml_spark.rewrite import derive_tm_constraints
    mapping = MappingDocument.from_text(TPCH_KG_MAPPING)
    cons = derive_tm_constraints(mapping, PREFIX +
        'DESCRIBE ?c WHERE { ?c ex:segment "BUILDING" }')
    assert all(c is None for c in cons.values())


def test_in_filter_promotes_to_disjunction(spark):
    from morph_xr2rml_spark.rewrite import derive_tm_constraints
    mapping = MappingDocument.from_text(TPCH_KG_MAPPING)
    cons = derive_tm_constraints(mapping, PREFIX + """
        SELECT ?c WHERE { ?c ex:segment ?s .
            FILTER(?s IN ("BUILDING", "MACHINERY")) }""")
    assert cons["#Customer"] == [{"c_mktsegment": ("lexeq", "BUILDING")},
                                 {"c_mktsegment": ("lexeq", "MACHINERY")}]
    assert cons["#Orders"] == []


def test_string_pattern_builtins_push(spark):
    """STRSTARTS/CONTAINS on a column-bound object → rendered-lexical
    pattern predicates at the scan; parity with DuckDB."""
    mapping = MappingDocument.from_text(TPCH_KG_MAPPING)
    tables = tpch_tables(spark, SF_DIR)
    df = answer_auto(spark, mapping, PREFIX + """
        SELECT ?c ?n WHERE { ?c ex:name ?n . ?c a ex:Customer .
            FILTER STRSTARTS(STR(?n), "Customer#00000001") }
        ORDER BY ?c""", tables=tables)
    plan = _plan(df)
    for absent in ("nation.parquet", "region.parquet", "orders.parquet"):
        assert absent not in plan
    assert "StartsWith" in plan or "Customer#00000001" in plan
    exp = _duck("""
        SELECT '<http://example.org/customer/' || c_custkey || '>',
               '"' || c_name || '"'
        FROM customer WHERE c_name LIKE 'Customer#00000001%'
        ORDER BY 1""")
    assert sorted((r.c, r.n) for r in df.collect()) == sorted((a, b) for a, b in exp)
    assert len(exp) > 0


def test_eq_plus_strstarts_conjunction_not_unsat(spark):
    """Regression (r5): a literal equality AND a string-pattern builtin
    on the same variable constrain the same column — that conjunction is
    satisfiable and must NOT eliminate the TM."""
    from morph_xr2rml_spark.rewrite import _conj_merge
    conj = {"c_name": ("lexeq", "Customer#000000001")}
    assert _conj_merge(conj, {"c_name": ("lexpat", "strstarts",
                                         "Customer")})
    assert conj["c_name"] == ("lexeq", "Customer#000000001")
    # but two DIFFERENT renders on one column are genuinely unsat
    assert not _conj_merge(dict(conj), {"c_name": ("lexeq", "other")})

    mapping = MappingDocument.from_text(TPCH_KG_MAPPING)
    tables = tpch_tables(spark, SF_DIR)
    df = answer_auto(spark, mapping, PREFIX + """
        SELECT ?c WHERE { ?c ex:name ?n .
            FILTER(?n = "Customer#000000001"
                && STRSTARTS(STR(?n), "Customer")) }""", tables=tables)
    assert [r.c for r in df.collect()] == \
        ["<http://example.org/customer/1>"]


TEMPLATE_LIT_MAPPING = """
@prefix rr: <http://www.w3.org/ns/r2rml#> .
@prefix ex: <http://example.com/> .
<#N> rr:logicalTable [ rr:tableName "t" ];
  rr:subjectMap [ rr:template "http://example.org/n/{id}" ];
  rr:predicateObjectMap [ rr:predicate ex:label;
    rr:objectMap [ rr:template "nation {v} "; rr:termType rr:Literal ] ].
<#R> rr:logicalTable [ rr:tableName "t" ];
  rr:subjectMap [ rr:template "http://example.org/r/{id}" ];
  rr:predicateObjectMap [ rr:predicate ex:label;
    rr:objectMap [ rr:template "region__{v}"; rr:termType rr:Literal ] ].
"""


@pytest.mark.parametrize("lex,want", [
    ("nation a_b", {"#N": None, "#R": []}),
    ("region_x", {"#N": [], "#R": None}),
    ("nation", {"#N": None, "#R": []}),
    ("other", {"#N": [], "#R": []}),
])
def test_template_literal_fixed_ends_prune_tms(spark, lex, want):
    """A template literal renders encode_literal of the trimmed expanded
    value, so no row constraint inverts it; its fixed head and tail
    still rule out a TM that cannot render the lexical.  Answers equal
    the local engine's on the same rows."""
    from morph_xr2rml_spark.local_engine import materialize_local
    from morph_xr2rml_spark.rewrite import derive_tm_constraints
    mapping = MappingDocument.from_text(TEMPLATE_LIT_MAPPING)
    rows = [(1, "a__b"), (2, "x"), (3, " "), (4, None)]
    tables = {"t": spark.createDataFrame(rows, "id int, v string")}
    q = PREFIX + f'SELECT ?s WHERE {{ ?s ex:label "{lex}" }}'
    assert derive_tm_constraints(mapping, q, tables) == want
    triples = materialize_local(mapping, {"t": [{"id": i, "v": v}
                                                for i, v in rows]})
    exp = sorted(s for s, _p, o, _g in triples if o == f'"{lex}"')
    got = sorted(r.s for r in answer_auto(spark, mapping, q,
                                          tables=tables).collect())
    assert got == exp and (len(got) > 0) == (lex != "other")
